"""Document deduplication family (north-star extension): exact hash dedup,
n-gram Jaccard, MinHash+LSH banding, SimHash.

Scale design (the point of each variant):
  - exact: one hash-groupBy shuffle on md5(normalized text); the canonical
    survivor is min(doc_id) — deterministic, no window needed.
  - n-gram Jaccard: exact pairwise similarity but only over candidate
    pairs that SHARE a shingle — the shingle self-join replaces the O(n²)
    cross join; common-shingle skew is bounded by dropping shingles above
    a document-frequency cap (they can't separate near-dups anyway).
  - MinHash+LSH: signatures are one aggregate pass (H min-hashes computed
    map-side); banding turns near-dup search into an equi-join on
    (band_id, band_hash) — the classic sub-quadratic path at 100 TB.
  - SimHash: one 64-bit signature per doc via per-token hash bit voting;
    near-dups = signatures within Hamming distance k, found by banding
    the 64 bits into k+1 chunks (pigeonhole: some chunk must match
    exactly).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from counsel_data_pipeline_spark.ops.materialize import pin
from counsel_data_pipeline_spark.ops.partitioning import spread as _spread
from counsel_data_pipeline_spark.ops.text_analysis import (
    content_md5,
    norm_text,
    tokens,
    word_shingles,
    word_shingles_from_tokens,
)

# --------------------------------------------------------------------------
# md5-affine hash family — reproducible bit-for-bit in DuckDB, so the
# MinHash/SimHash queries are ORACLE-checkable (xxhash64 has no DuckDB
# twin; round-1 left this family rows-only). Per shingle: ONE md5, split
# into two 32-bit words; h_i = (A_i·w1 + B_i·w2 + C_i) mod 2^32 with
# A,B odd 20-bit constants — every product stays < 2^53, exact in BIGINT
# in both engines (and in any double-backed fetch path). The constants
# themselves derive from md5 of a tag string, so both engines embed
# identical literals with no shared RNG.
# --------------------------------------------------------------------------


def mh_const(tag: str, i: int, bits: int, odd: bool = False) -> int:
    v = int(hashlib.md5(f"{tag}:{i}".encode()).hexdigest()[:8], 16) % (1 << bits)
    return (v | 1) if odd else v


def mh_coeffs(n_hashes: int) -> list[tuple[int, int, int]]:
    """(A_i, B_i, C_i) for the affine family, shared with the SQL oracle."""
    return [
        (mh_const("mha", i, 20, odd=True), mh_const("mhb", i, 20, odd=True),
         mh_const("mhc", i, 32))
        for i in range(n_hashes)
    ]


def md5_words(c: Column) -> tuple[Column, Column]:
    """Two 32-bit words from one md5 of the (UTF-8) column."""
    m = F.md5(F.encode(c, "UTF-8"))
    w1 = F.conv(F.substring(m, 1, 8), 16, 10).cast("bigint")
    w2 = F.conv(F.substring(m, 9, 8), 16, 10).cast("bigint")
    return w1, w2


def sql_md5_words(expr: str) -> tuple[str, str]:
    """DuckDB twin of :func:`md5_words`."""
    m = f"md5({expr})"
    return (
        f"CAST(CAST(concat('0x', substr({m}, 1, 8)) AS UBIGINT) AS BIGINT)",
        f"CAST(CAST(concat('0x', substr({m}, 9, 8)) AS UBIGINT) AS BIGINT)",
    )


def exact_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Group identical (normalized) texts: (content_hash, canonical_id,
    n_copies). Survivor = min id, deterministic without any ordering column."""
    return (
        df.select(F.col(id_col).alias("id"), content_md5(F.col(text_col)).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min("id").alias("canonical_id"), F.count(F.lit(1)).alias("n_copies"))
    )





def _doc_shingle_sets(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(id, shs: array<string>) — each doc's DISTINCT shingle set as one
    array, built MAP-SIDE (``array_distinct`` over the scan projection).

    r16 shuffle-removal (guide §2.3/§2.4): the old shape exploded the
    corpus into an (id, shingle) stream and ran ``.distinct()`` — a full
    shuffle of every shingle STRING — before any consumer could start,
    and verification paths re-aggregated the stream back into per-doc
    arrays with ``collect_list`` (a second corpus-wide shuffle). Per-doc
    distinctness needs no cross-partition work at all, so both shuffles
    were pure overhead. Consumers explode this frame when they need a
    stream (already-distinct rows, no extra Exchange) and use it directly
    when they need per-doc sets (verification joins).

    STAGED projections, not one expression: Spark's subexpression
    elimination skips anything inside a lambda body, so the one-shot
    ``array_distinct(word_shingles(norm_text(text)))`` re-evaluated the
    whole tokenize subtree per shingle inside the ``transform`` lambda
    (measured at sf0.1: 4.5 s one-shot vs 0.6 s staged for the same
    frame, and 14.6 s when a consumer exploded the inline expression).
    Each stage binds the previous stage's result to a real column, and
    ``CollapseProject`` keeps the stages apart because the bound columns
    are multiply-referenced and non-cheap."""
    toks = _spread(df).select(
        F.col(id_col).alias("id"),
        tokens(norm_text(F.col(text_col))).alias("__t"),
    )
    raw = toks.select(
        "id", word_shingles_from_tokens(F.col("__t"), n).alias("__raw")
    )
    return raw.select("id", F.array_distinct(F.col("__raw")).alias("shs"))


# 64-bit shingle keys for shuffles (guide §2.3 "shuffle keys and metadata
# instead of payloads"): df-counts and candidate equi-joins only need
# shingle IDENTITY, so they move xxhash64(shingle) — 8 bytes vs ~6·n per
# string. Exact up to 64-bit collisions (~N²/2^65 across the corpus's
# distinct shingles — at sf0.1's ~5·10^5 shingles that is ~10^-9, and the
# committed duplicate-span audit already rides the same argument with
# 60-bit md5 prefixes). Verification always re-checks candidates against
# the true string sets, so a collision can only add a candidate that
# exact verification then discards — except in the df-cap path, where the
# cap itself is part of the declared semantics and a collision could
# merge two counts; the driver's oracle rows at three SFs pin that this
# never bites on the attested data.
def _shingle_key(c: Column) -> Column:
    return F.xxhash64(c)


def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = 1000,
) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs sharing ≥1 shingle.

    Returns (id_a, id_b, inter, size_a, size_b, jaccard) with id_a < id_b.
    ``max_shingle_df`` drops ubiquitous shingles before the self-join —
    the skew guard that keeps the candidate blow-up bounded at scale.
    With the cap active, sizes are computed over the SAME capped shingle
    universe as the intersections, so ``jaccard`` is the exact Jaccard of
    the rare-shingle sets (a consistent universe — mixing full-universe
    sizes with capped intersections would systematically underestimate).
    With ``max_shingle_df=None`` it is plain exact Jaccard.

    r16 shape: the stream is the map-side-distinct explode of
    :func:`_doc_shingle_sets` (no corpus-wide distinct Exchange), shuffles
    move 8-byte shingle keys, and the df cap is applied by anti-join
    against the HOT set (df > cap) — where the old inner join against
    the rare set shuffled the whole stream a second time.

    Hot-set sizing (r17, the r16 ADVICE): |hot| is bounded by
    total_shingle_occurrences / cap, which GROWS with the corpus — a
    forced broadcast is only safe while that bound times 8 bytes fits
    the executors (cap=1000 keeps a 10^12-occurrence corpus at ≤10^9
    keys ≈ 8 GB: already at the broadcast cap). By DEFAULT the
    anti-join strategy is therefore left to AQE, which sees the hot
    set's actual size (interleaved A/B at sf0.1: indistinguishable,
    best 1.99 s vs 2.05 s hinted). Deployments whose corpus/cap ratio
    provably keeps |hot| executor-small can force the hint — skipping
    the capped stream's shuffle-stage write — with
    ``spark.counsel.jaccard.hotBroadcast=true``.

    Exactness contract: with the cap active, df counts, cap membership
    and intersections are computed over 64-bit shingle KEYS — exact up
    to xxhash64 collisions (see :func:`_shingle_key`; a collision could
    merge two df counts across the cap boundary). The uncapped path has
    the same key-collision class in its intersections. The driver's
    oracle rows at three SFs pin value equality on the attested data.
    """
    # The per-doc SET table is persisted EAGERLY and every consumer
    # (including the explode below) reads the cache. The cache boundary
    # is load-bearing, not a convenience: ``InferFiltersFromGenerate``
    # rewrites ``explode(shs)`` into ``size(shs) > 0 AND isnotnull(shs)``
    # whenever the generator input is a bound ATTRIBUTE (it skips complex
    # inline expressions), and predicate pushdown then re-substitutes the
    # alias chain — the whole tokenize+shingle expression, TWICE — below
    # the ``spread`` Exchange, where it runs serially on the one-file
    # input partition (measured: 11.8 s in a single task at sf0.1; the
    # full query 26 s cold vs ~2 s with the boundary). Above a cache the
    # inferred filter degenerates to ``size`` over the materialized
    # array. The count() is timed inside the query like every eager pin
    # (the bench times fn() construction + the noop write).
    sets = _doc_shingle_sets(df, id_col, text_col, n).persist()
    sets.count()
    sh = (
        sets.select("id", F.explode("shs").alias("shingle"))
        .select("id", _shingle_key(F.col("shingle")).alias("sh"))
    )
    if max_shingle_df is not None:
        hot = (
            sh.groupBy("sh")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_shingle_df)
            .select("sh")
        )
        # broadcast hint gated on conf, default OFF (AQE decides from
        # the hot set's real size) — see the docstring's sizing bound
        if (
            df.sparkSession.conf.get(
                "spark.counsel.jaccard.hotBroadcast", "false"
            ).lower()
            == "true"
        ):
            hot = F.broadcast(hot)
        sh = sh.join(hot, "sh", "left_anti")
    # One persisted copy of the (possibly capped) stream: it feeds the
    # sizes aggregation and both sides of the candidate self-join.
    sh = sh.persist()
    sh.count()
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.select(F.col("id").alias("id_a"), "sh")
    b = sh.select(F.col("id").alias("id_b"), "sh")
    inter = (
        a.join(b, "sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    out = (
        inter.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "size_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "size_b"), "id_b")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("size_a") + F.col("size_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out.select("id_a", "id_b", "inter", "size_a", "size_b", "jaccard")


def _df_ranked_shingles(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> tuple[DataFrame, DataFrame]:
    """Shared scaffolding for the prefix-filter family: the persisted
    per-doc shingle SET table (one row per doc — it feeds the ranking
    explode AND the verification joins directly) plus the persisted
    RANKED-ARRAY table — each doc's shingle keys as ONE array ``hs``
    sorted by the global ascending-df order (ties broken by the 8-byte
    key ``h``), alongside the set size ``sz``; a key's rank ``rn`` is
    its array position.

    r17 shape (guide §2.4, §2.3): the r16 row-form ``ranked`` view
    (df join + ``row_number`` window) was re-evaluated PER CONSUMER —
    both sides of the candidate self-join re-ran the df aggregation,
    the df join, and the window's Exchange+Sort (visible as two full
    Window subtrees in the committed r16 plans). The array form is
    computed ONCE (df aggregation → one hash join → one collect_list
    aggregation keyed by id — the same Exchange the window needed, but
    with no partition-wide Sort/WindowExec: the per-doc ``sort_array``
    replaces it) and persisted as a NARROW frame (id, sz, array<bigint>
    — no shingle strings), so every consumer derives its rows map-side
    with ``posexplode``.

    Rank-order note: ties in ``sdf`` now break by the 8-byte key ``h``
    instead of the shingle string — the string no longer rides through
    any ranking shuffle (guide §2.3: shuffle keys, not payloads). ANY
    corpus-consistent total order satisfies the AllPairs/PPJoin
    completeness theorem, and (sdf, h) is total on the h-classes the
    candidate join already operates on; the emitted pair set is
    invariant because candidates are always re-verified against the
    true string sets and filtered on the exact threshold. (A 64-bit
    collision between two equal-df shingles could in principle perturb
    the order — the same accepted collision class as ``_shingle_key``;
    the bruteforce property tests and the driver's oracle rows pin the
    output.)

    Cache lifecycle: both frames are lazy persists, like
    ``pin(eager=False)`` (ops/materialize): no job runs here, and the
    library never unpersists them, because the consuming query is still
    lazy when this returns. They hold two CacheManager entries until the
    session ends or the caller releases them with
    ``spark.catalog.clearCache()`` once the returned pairs have been
    consumed, as ``bench.py`` does after every query."""
    sets = _doc_shingle_sets(df, id_col, text_col, n).persist()
    sh = sets.select(
        "id", F.size("shs").alias("sz"), F.explode("shs").alias("shingle")
    ).select("id", "sz", _shingle_key(F.col("shingle")).alias("h"))
    sh_df = sh.groupBy("h").agg(F.count(F.lit(1)).alias("sdf"))
    ranked_sets = (
        sh.join(sh_df, "h")
        .groupBy("id", "sz")
        .agg(
            F.sort_array(F.collect_list(F.struct("sdf", "h"))).alias("rs")
        )
        .select("id", "sz", F.col("rs.h").alias("hs"))
        .persist()
    )
    return sets, ranked_sets


def _ranked_rows(ranked_sets: DataFrame) -> DataFrame:
    """(id, h, sz, rn) — the full ranked stream, derived map-side from
    the persisted ranked-array table (rn = 1-based array position)."""
    return ranked_sets.select(
        "id", "sz", F.posexplode("hs").alias("p", "h")
    ).select("id", "h", "sz", (F.col("p") + 1).alias("rn"))


def _prefix_slice(ranked_sets: DataFrame, t_num: int, t_den: int) -> DataFrame:
    """First |x| - ceil(t*|x|) + 1 positions of each doc's ranked
    shingles — all-integer ceil (DIV, no float), sliced from the ranked
    array BEFORE the explode so only prefix positions generate rows.
    Only the 8-byte shingle key ``h`` survives into the candidate
    join."""
    plen = (
        F.col("sz")
        - F.expr(f"(sz * {t_num} + {t_den - 1}) DIV {t_den}")
        + F.lit(1)
    )
    return ranked_sets.select(
        "id", "sz", F.posexplode(F.slice("hs", F.lit(1), plen)).alias("p", "h")
    ).select("id", "h", "sz", (F.col("p") + 1).alias("rn"))


def _intersect_candidates(cand: DataFrame, sets: DataFrame) -> DataFrame:
    """Exact verification over the candidates' FULL shingle sets, carried
    as per-doc ARRAYS: the doc-set table has one row per document (not
    per shingle), so both verify joins move doc-count rows — never more
    than corpus metadata at scale — and the intersection is a hash-set
    probe inside codegen (array_intersect) over the true shingle STRINGS
    (hash-free, so key collisions upstream cannot reach the answer).
    ``sets`` is the persisted :func:`_doc_shingle_sets` frame — already
    per-doc arrays, no collect_list re-aggregation."""
    return (
        cand.join(
            sets.select(F.col("id").alias("id_a"), F.col("shs").alias("shs_a")),
            "id_a",
        )
        .join(
            sets.select(F.col("id").alias("id_b"), F.col("shs").alias("shs_b")),
            "id_b",
        )
        .withColumn(
            "inter", F.size(F.array_intersect("shs_a", "shs_b")).cast("bigint")
        )
    )


def jaccard_prefix_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    t_num: int = 1,
    t_den: int = 2,
) -> DataFrame:
    """Exact n-gram Jaccard pairs via PREFIX FILTERING (AllPairs/PPJoin
    family, Bayardo et al. WWW'07) — the lossless scale path.

    Same result set as ``jaccard_pairs(..., max_shingle_df=None)`` with
    threshold t = t_num/t_den, but the candidate join touches only each
    document's PREFIX: order every document's shingles by ascending
    corpus document-frequency (rarest first; ties broken by the 8-byte
    shingle key, so the global order is total and shared by all
    documents — see :func:`_df_ranked_shingles`) and
    keep the first |x| - ceil(t*|x|) + 1. Completeness: if J(x,y) >= t
    then the common shingles number o >= ceil(t*|x|), while x's suffix
    holds only ceil(t*|x|) - 1 positions — so the globally-smallest
    common shingle sits inside BOTH prefixes, and the prefix equi-join
    finds the pair. Unlike the df cap (``max_shingle_df``) this drops NO
    pairs; unlike the uncapped join its blow-up is bounded — prefixes
    are anchored on the RAREST shingles, so hot-shingle blocks never
    enter the join. Two further lossless prunes run inside the join:
    the length filter (min size >= t * max size) and PPJoin's
    positional filter (a matched row survives only if its remaining
    positions can still reach the required overlap) — all in exact
    integers. Candidate funnel at sf0.1: 1.13M naive -> 310k prefix ->
    125k positional, answer bit-identical.

    Returns (id_a, id_b, inter, size_a, size_b, jaccard), id_a < id_b;
    threshold is the exact rational t_num/t_den (no float in the prefix
    arithmetic, so both engines agree on every prefix length).
    The two cached scaffolding frames stay until the caller runs
    ``spark.catalog.clearCache()`` (see :func:`_df_ranked_shingles`).
    """
    sets, ranked = _df_ranked_shingles(df, id_col, text_col, n)
    prefix = _prefix_slice(ranked, t_num, t_den)
    a = prefix.select(
        F.col("id").alias("id_a"),
        "h",
        F.col("sz").alias("size_a"),
        F.col("rn").alias("rn_a"),
    )
    b = prefix.select(
        F.col("id").alias("id_b"),
        "h",
        F.col("sz").alias("size_b"),
        F.col("rn").alias("rn_b"),
    )
    # positional filter (PPJoin): J >= t needs overlap o >= alpha =
    # ceil(t/(1+t) * (sa+sb)); a matched token at positions (rn_a, rn_b)
    # bounds o <= 1 + min(sa - rn_a, sb - rn_b) because in each doc's
    # canonically sorted list every common token ranks at or after the
    # globally-smallest common token. Lossless: for a qualifying pair
    # the row of that smallest shared token always passes (its position
    # bound IS >= o >= alpha); later shared-token rows may drop, which
    # only thins the duplicates the distinct would collapse anyway.
    alpha = F.expr(
        f"((size_a + size_b) * {t_num} + {t_den + t_num - 1}) "
        f"DIV {t_den + t_num}"
    )
    cand = (
        a.join(b, "h")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            # length filter: J >= t forces t * max(|x|,|y|) <= min(|x|,|y|)
            & (
                F.least("size_a", "size_b") * t_den
                >= F.greatest("size_a", "size_b") * t_num
            )
            & (
                1
                + F.least(
                    F.col("size_a") - F.col("rn_a"),
                    F.col("size_b") - F.col("rn_b"),
                )
                >= alpha
            )
        )
        .select("id_a", "id_b", "size_a", "size_b")
        .distinct()
    )
    inter = _intersect_candidates(cand, sets)
    out = (
        inter.withColumn(
            "jaccard",
            F.col("inter") / (F.col("size_a") + F.col("size_b") - F.col("inter")),
        )
        # exact rational threshold: inter/union >= t_num/t_den
        .filter(
            F.col("inter") * t_den
            >= (F.col("size_a") + F.col("size_b") - F.col("inter")) * t_num
        )
    )
    return out.select("id_a", "id_b", "inter", "size_a", "size_b", "jaccard")


def containment_prefix_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    t_num: int = 4,
    t_den: int = 5,
) -> DataFrame:
    """Exact containment pairs via prefix filtering — the lossless
    bounded path for the ASYMMETRIC measure (Broder containment =
    inter / min(|A|, |B|)), completing what ``jaccard_prefix_pairs``
    does for the symmetric one.

    C(x,y) >= t bounds the overlap by the SMALLER set only, so the
    prefix theorem applies one-sided: if |x| <= |y| then o >=
    ceil(t*|x|), and x's suffix past |x| - ceil(t*|x|) + 1 cannot hold
    all common tokens — some common token sits in x's prefix, which may
    match ANYWHERE in y. Candidates are therefore prefix(smaller) ⋈
    FULL(larger): every doc is indexed both ways and the direction with
    the smaller doc on the prefix side is guaranteed to fire. Hot
    corpus-wide shingles still never explode the join — on the full
    side their df is n, but on the prefix side it is ~0, and the join
    cost is sum over shingles of prefix_df * full_df. The positional
    filter carries over: a matched row survives only if
    1 + min(remaining positions) can reach ceil(t * |smaller|).

    Returns (id_a, id_b, inter, size_a, size_b, containment) with
    id_a < id_b; threshold is the exact rational t_num/t_den.
    The two cached scaffolding frames stay until the caller runs
    ``spark.catalog.clearCache()`` (see :func:`_df_ranked_shingles`).
    """
    sets, ranked = _df_ranked_shingles(df, id_col, text_col, n)
    prefix = _prefix_slice(ranked, t_num, t_den).select(
        F.col("id").alias("id_p"),
        "h",
        F.col("sz").alias("sz_p"),
        F.col("rn").alias("rn_p"),
    )
    full = _ranked_rows(ranked).select(
        F.col("id").alias("id_f"),
        "h",
        F.col("sz").alias("sz_f"),
        F.col("rn").alias("rn_f"),
    )
    # required overlap is set by the prefix (smaller) side
    alpha_p = F.expr(f"(sz_p * {t_num} + {t_den - 1}) DIV {t_den}")
    cand = (
        prefix.join(full, "h")
        .filter(
            (F.col("id_p") != F.col("id_f"))
            # the smaller-side-as-prefix direction is the guaranteed one;
            # ties fire in both directions and collapse in the distinct
            & (F.col("sz_p") <= F.col("sz_f"))
            & (
                1
                + F.least(
                    F.col("sz_p") - F.col("rn_p"),
                    F.col("sz_f") - F.col("rn_f"),
                )
                >= alpha_p
            )
        )
        .select(
            F.least("id_p", "id_f").alias("id_a"),
            F.greatest("id_p", "id_f").alias("id_b"),
            F.when(F.col("id_p") < F.col("id_f"), F.col("sz_p"))
            .otherwise(F.col("sz_f"))
            .alias("size_a"),
            F.when(F.col("id_p") < F.col("id_f"), F.col("sz_f"))
            .otherwise(F.col("sz_p"))
            .alias("size_b"),
        )
        .distinct()
    )
    inter = _intersect_candidates(cand, sets)
    out = (
        inter.withColumn(
            "containment",
            F.col("inter") / F.least(F.col("size_a"), F.col("size_b")),
        )
        # exact rational threshold: inter / min >= t_num/t_den
        .filter(
            F.col("inter") * t_den
            >= F.least(F.col("size_a"), F.col("size_b")) * t_num
        )
    )
    return out.select(
        "id_a", "id_b", "inter", "size_a", "size_b", "containment"
    )


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | None = 1000,
) -> DataFrame:
    """Asymmetric near-dup: pairs where the SMALLER shingle set is mostly
    contained in the larger one — containment = inter / min(|A|, |B|).

    Jaccard misses sub-document duplication (a paragraph pasted into a
    much longer doc scores inter/union ≈ 0); containment is the standard
    complement (Broder's resemblance vs containment). Reuses the
    jaccard candidate machinery (shared-shingle equi-join + df cap as the
    skew guard), so the scale shape is identical — only the final score
    and filter differ. Returns (id_a, id_b, inter, size_a, size_b,
    containment), id_a < id_b.
    """
    pairs = jaccard_pairs(
        df, id_col, text_col, n, threshold=0.0, max_shingle_df=max_shingle_df
    )
    return (
        pairs.withColumn(
            "containment",
            F.col("inter") / F.least(F.col("size_a"), F.col("size_b")),
        )
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "inter", "size_a", "size_b", "containment")
    )


def levenshtein_blocked_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    prefix_len: int = 12,
    max_dist: int = 40,
    rel_den: int = 5,
    max_block: int = 64,
) -> DataFrame:
    """Character-level edit-distance near-dups over prefix-blocked
    candidates: pairs of docs sharing the first ``prefix_len`` chars of
    their normalized text, with ``lev <= max_dist`` AND
    ``lev * rel_den <= min(len_a, len_b)`` (a relative cap, compared in
    exact integer arithmetic — no float ratio in the predicate).

    Edit distance complements the shingle family: Jaccard/containment
    see bag-of-shingles overlap and miss heavy in-place character churn;
    Levenshtein charges every insertion/deletion/substitution. The
    candidate set is part of the query semantics (same discipline as the
    graph hub cap): blocks larger than ``max_block`` docs are dropped
    before the self-join — a template prefix shared by half the corpus
    would otherwise recreate the quadratic blow-up the blocking exists
    to prevent.

    Scale shape: one hash self-join on the block key (never a cartesian),
    a broadcast-sized block-count table as the skew guard, and a length
    pre-filter (|len_a - len_b| <= max_dist is a lower bound on lev) so
    the O(len^2) DP runs only on surviving candidates. The Spark side
    passes ``max_dist`` as the levenshtein threshold — the JVM computes
    the banded O(max_dist * len) DP and returns -1 above it, so cost per
    candidate is linear in doc length, not quadratic.

    Returns (id_a, id_b, dist, len_a, len_b), id_a < id_b.
    """
    k = _spread(df).select(
        F.col(id_col).alias("id"),
        norm_text(F.col(text_col)).alias("nt"),
    ).select(
        "id", "nt",
        F.substring("nt", 1, prefix_len).alias("bk"),
        F.length("nt").cast("bigint").alias("ln"),
    )
    # the block-count guard is keys-only (12-char prefixes of surviving
    # blocks) and broadcast into BOTH sides of the self-join below —
    # materialized once so each side doesn't rebuild it from its own
    # fact scan (r11 scan audit: 4 scans; the self-join's two sides are
    # this shape's floor at 3)
    small = pin(
        k.groupBy("bk")
        .agg(F.count(F.lit(1)).alias("n_blk"))
        .filter(F.col("n_blk") <= max_block)
        .select("bk"),
        eager=False,
    )
    k = k.join(F.broadcast(small), "bk")
    a = k.select(F.col("id").alias("id_a"), F.col("nt").alias("ta"),
                 F.col("ln").alias("len_a"), "bk")
    b = k.select(F.col("id").alias("id_b"), F.col("nt").alias("tb"),
                 F.col("ln").alias("len_b"), "bk")
    return (
        a.join(b, "bk")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.abs(F.col("len_a") - F.col("len_b")) <= max_dist)
        )
        .withColumn(
            "dist", F.levenshtein("ta", "tb", max_dist).cast("bigint")
        )
        .filter(
            (F.col("dist") >= 0)
            & (F.col("dist") * rel_den <= F.least("len_a", "len_b"))
        )
        .select("id_a", "id_b", "dist", "len_a", "len_b")
    )


def _mh_words_col(shs: Column) -> Column:
    """``array<struct<w1,w2>>`` — the two leading 32-bit md5 words of each
    shingle, one md5 per shingle."""
    return F.transform(
        shs,
        lambda s: F.struct(
            *(
                c.alias(nm)
                for c, nm in zip(md5_words(s), ("w1", "w2"), strict=True)
            )
        ),
    )


def _sig_from_words(words: Column, n_hashes: int) -> Column:
    """MinHash signature ``array<bigint>`` from a materialized md5-words
    array: sig[i] = min over shingles of (A_i·w1 + B_i·w2 + C_i) mod 2^32.
    ``words`` MUST be a bound column (not the ``_mh_words_col`` expression
    itself): every one of the H mins references it, and Spark's
    subexpression elimination skips any expression containing a
    ``LambdaVariable``, so inlining the md5 transform here would compute H
    md5s per shingle instead of one (measured: dedup_incremental_batch
    3.5 s → 8.6 s at sf0.1 with the inlined form). Use
    :func:`with_affine_sig`, which stages the two projections —
    ``CollapseProject`` keeps them apart because ``words`` is referenced H
    times and is non-cheap."""
    return F.array(
        *[
            F.array_min(
                F.transform(
                    words,
                    lambda w: (
                        F.lit(a) * w["w1"] + F.lit(b) * w["w2"] + F.lit(c)
                    )
                    % F.lit(1 << 32),
                )
            )
            for (a, b, c) in mh_coeffs(n_hashes)
        ]
    )


def with_affine_sig(
    df: DataFrame, shs_col: str, n_hashes: int, keep: list[str]
) -> DataFrame:
    """``keep + (sig)`` — per-row MinHash signatures from a shingle-array
    column, entirely MAP-SIDE: zero shuffle, zero Exchange (the r15 shape
    shuffled an (id, w1, w2) row per shingle into a 16-min hash
    aggregate — guide §2.4: remove shuffles outright). The ONE
    implementation of the md5-affine hash family (minhash_signatures /
    build_dedup_store / incremental_dedup all route here; a change to the
    family applied to one copy but not another would silently desync
    fresh signatures from signatures persisted in the on-disk streaming
    store). Identical values to the r15 aggregation — a min over the
    distinct set equals the min over the multiset."""
    staged = df.select(*keep, _mh_words_col(F.col(shs_col)).alias("__mhw"))
    return staged.select(
        *keep, _sig_from_words(F.col("__mhw"), n_hashes).alias("sig")
    )


def _signature_rows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    n_hashes: int,
    carry: dict[str, Column] | None = None,
) -> DataFrame:
    """(id[, *carry], sig) — per-doc MinHash signatures, one map-side
    pass over the scan (see :func:`with_affine_sig`), no shuffle at all.

    ``carry`` maps output column name → per-doc expression evaluated on
    the input row. A doc whose text yields no shingles is dropped (the
    r1-era explode produced no rows for it; ``array_min`` of an empty
    array would instead yield a NULL-filled signature) — expressed as a
    token-count filter on the STAGED tokens column, which is free, where
    a ``size(shingles) > 0`` filter would be pushed below the shingle
    projection and recompute the array per row.

    No ``array_distinct`` on the shingle array: duplicate shingles cannot
    change a min, and per-doc dedup is pure cost here (the r15 stream
    shape skipped the distinct for the same reason). Tokens are staged as
    a bound column so the shingle ``transform`` lambda does not
    re-tokenize per shingle (see :func:`_doc_shingle_sets`)."""
    carry = carry or {}
    toks = _spread(df).select(
        F.col(id_col).alias("id"),
        *[expr.alias(name) for name, expr in carry.items()],
        tokens(norm_text(F.col(text_col))).alias("__t"),
    ).filter(F.size("__t") >= n)
    base = toks.select(
        "id",
        *carry.keys(),
        word_shingles_from_tokens(F.col("__t"), n).alias("__shs"),
    )
    return with_affine_sig(base, "__shs", n_hashes, ["id", *carry.keys()])


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    n_hashes: int = 16,
) -> DataFrame:
    """(id, sig: array<bigint>) — sig[i] = min over shingles of the i-th
    md5-affine hash (see module header and :func:`_signature_rows`)."""
    return _signature_rows(df, id_col, text_col, n, n_hashes)


def banded_signatures(sigs: DataFrame, n_hashes: int, bands: int) -> DataFrame:
    """(id, sig, band, bucket) — one row per (doc, band). Band bucket = the
    band's signature rows joined textually — identical rendering in the SQL
    oracle (an xxhash64 of the rows would be opaque to DuckDB); candidates
    require EXACT agreement on the whole band either way, the key encoding
    only affects shuffle width (~40 B)."""
    rows_per_band = n_hashes // bands
    return sigs.select(
        "id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            ",",
                            *[
                                F.col("sig")[b * rows_per_band + r].cast("string")
                                for r in range(rows_per_band)
                            ],
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "sig", "bb.band", "bb.bucket")


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    n_hashes: int = 16,
    bands: int = 4,
    verify_threshold: float | None = 0.5,
) -> DataFrame:
    """MinHash banding: docs agreeing on ALL rows of some band become
    candidate pairs; optionally verified with exact Jaccard.

    Returns (id_a, id_b, est_jaccard[, jaccard]) — est_jaccard is the
    signature agreement fraction.

    r16 shape: ONE text pass. The per-doc distinct shingle-set table is
    built map-side (:func:`_doc_shingle_sets`), persisted, and feeds BOTH
    the signatures (map-side ``with_affine_sig`` — the r15 shape re-ran a
    shingle explode + 16-min shuffle aggregation) and the exact-Jaccard
    verification arrays (the r15 shape re-normalized + re-shingled the
    corpus a second time for them).
    """
    # Persisted: the set table is consumed by both banding sides and both
    # verification joins; everything derived from it is map-side.
    sets = _doc_shingle_sets(df, id_col, text_col, n).persist()
    sigs = with_affine_sig(
        sets.filter(F.size("shs") > 0), "shs", n_hashes, ["id"]
    )
    banded = banded_signatures(sigs, n_hashes, bands)
    a = banded.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"), "band", "bucket")
    b = banded.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"), "band", "bucket")
    # est_jaccard is computed BEFORE the candidate distinct (r17, guide
    # §2.3): it is a pure function of the two signatures, so a pair
    # matching in several bands carries the same value on every
    # occurrence and the distinct collapses identically — but the
    # distinct Exchange now moves (id_a, id_b, est) ≈ 24 B/row instead
    # of two n_hashes-element signature arrays ≈ 2·8·n_hashes B/row.
    est = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            (
                F.size(
                    F.filter(
                        F.zip_with(
                            F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y
                        ),
                        lambda eq: eq,
                    )
                )
                / F.lit(float(n_hashes))
            ).alias("est_jaccard"),
        )
        .distinct()
    )
    if verify_threshold is None:
        return est
    # Exact-Jaccard verification over CANDIDATES ONLY — the whole point of
    # LSH is that the exact similarity runs on O(candidates), not on every
    # shingle-sharing pair. The candidates join the PERSISTED set table's
    # arrays twice and the set algebra stays JVM-side
    # (array_intersect/array_union return distinct elements).
    verified = (
        est.join(
            sets.select(F.col("id").alias("id_a"), F.col("shs").alias("__sa")), "id_a"
        )
        .join(
            sets.select(F.col("id").alias("id_b"), F.col("shs").alias("__sb")), "id_b"
        )
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("__sa", "__sb"))
            / F.size(F.array_union("__sa", "__sb")).cast("double"),
        )
        .filter(F.col("jaccard") >= verify_threshold)
    )
    return verified.select("id_a", "id_b", "est_jaccard", "jaccard")


def simhash_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 1
) -> DataFrame:
    """(id, sig_lo, sig_hi) — 64-bit SimHash as two 32-bit halves: each
    shingle's md5 words vote ±1 on every bit (weighted by term frequency —
    shingles NOT deduped); each signature bit takes the sign of its tally.
    Halves keep every value positive and < 2^32 — no two's-complement
    sign-bit games, and the md5 base makes the whole signature
    reproducible in the DuckDB oracle (xxhash64 wasn't).

    Shape: one explode + one groupBy with 64 integer tally aggregates, all
    partial (map-side combine) — a single shuffle of 64 ints per doc."""
    sh = _spread(df).select(
        F.col(id_col).alias("id"),
        F.explode(word_shingles(norm_text(F.col(text_col)), n)).alias("shingle"),
    )
    w1, w2 = md5_words(F.col("shingle"))
    sh = sh.select("id", w1.alias("__w1"), w2.alias("__w2"))

    def bit(b: int) -> Column:
        src = F.col("__w1") if b < 32 else F.col("__w2")
        return F.shiftrightunsigned(src, b % 32).bitwiseAND(F.lit(1))

    tallies = sh.groupBy("id").agg(
        *[
            F.sum(F.when(bit(b) == 1, 1).otherwise(-1)).alias(f"__t{b}")
            for b in range(64)
        ]
    )

    def half(lo_bit: int) -> Column:
        sig = F.lit(0).cast("bigint")
        for b in range(32):
            sig = sig + F.when(
                F.col(f"__t{lo_bit + b}") > 0, F.lit(1 << b).cast("bigint")
            ).otherwise(F.lit(0).cast("bigint"))
        return sig

    return tallies.select("id", half(0).alias("sig_lo"), half(32).alias("sig_hi"))


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ k, using pigeonhole
    banding: split 64 bits into k+1 chunks; pairs within distance k must
    agree exactly on ≥1 chunk → equi-join per chunk, then exact Hamming
    verification via popcount(xor)."""
    chunks = max_hamming + 1
    width = 64 // chunks
    # Persisted: the chunk-bucket self-join consumes the signature table on
    # both sides; without this each side re-runs the shingle explode + the
    # 64-tally aggregation (see minhash_lsh_pairs for the same pattern).
    sigs = simhash_signatures(df, id_col, text_col).persist()

    def chunk_val(c: int) -> Column:
        """Bits [c·width, (c+1)·width) out of the (lo, hi) halves."""
        lo_bit, hi_bit = c * width, (c + 1) * width
        mask = (1 << width) - 1
        if hi_bit <= 32:
            return F.shiftrightunsigned(F.col("sig_lo"), lo_bit).bitwiseAND(F.lit(mask))
        if lo_bit >= 32:
            return F.shiftrightunsigned(F.col("sig_hi"), lo_bit - 32).bitwiseAND(
                F.lit(mask)
            )
        n_lo = 32 - lo_bit  # chunk straddles the halves
        return F.shiftrightunsigned(F.col("sig_lo"), lo_bit).bitwiseAND(
            F.lit((1 << n_lo) - 1)
        ) + F.col("sig_hi").bitwiseAND(F.lit((1 << (width - n_lo)) - 1)) * F.lit(
            1 << n_lo
        )

    banded = sigs.select(
        "id",
        "sig_lo",
        "sig_hi",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(c).alias("chunk"), chunk_val(c).alias("bucket"))
                    for c in range(chunks)
                ]
            )
        ).alias("cb"),
    ).select("id", "sig_lo", "sig_hi", "cb.chunk", "cb.bucket")
    a = banded.select(
        F.col("id").alias("id_a"), F.col("sig_lo").alias("__la"),
        F.col("sig_hi").alias("__ha"), "chunk", "bucket",
    )
    b = banded.select(
        F.col("id").alias("id_b"), F.col("sig_lo").alias("__lb"),
        F.col("sig_hi").alias("__hb"), "chunk", "bucket",
    )
    # hamming is computed AND thresholded BEFORE the candidate distinct
    # (r17, guide §2.3): it is a pure function of the two signatures, so
    # multi-chunk matches carry the same value and the distinct
    # collapses identically — but the Exchange now moves
    # (id_a, id_b, hamming) instead of four signature halves, and pairs
    # failing the threshold never enter it at all (filter commutes with
    # distinct).
    return (
        a.join(b, ["chunk", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            (
                F.bit_count(F.col("__la").bitwiseXOR(F.col("__lb")))
                + F.bit_count(F.col("__ha").bitwiseXOR(F.col("__hb")))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def build_dedup_store(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    n_hashes: int = 16,
) -> DataFrame:
    """(id, content_h, sig) — the persisted dedup state for a corpus: the
    normalized-content md5 (exact dedup key) and the MinHash signature
    (near-dup key). This is what an incremental 100 TB pipeline stores
    between batches so the existing side is never re-read as text; one
    scan of the new batch produces its store rows, and dedup runs
    store-against-store."""
    # Single pass: the per-doc md5 rides through the shingle aggregation as
    # first() instead of a second scan + an (id ⋈ id) join — one shuffle
    # total, and the shuffle payload per doc is just md5 + H longs. A doc
    # whose text yields no shingles has no rows after explode and drops
    # from the store (same as the r1-era inner md5⋈sig join).
    return _signature_rows(
        docs, id_col, text_col, n, n_hashes,
        carry={"content_h": F.md5(F.encode(norm_text(F.col(text_col)), "UTF-8"))},
    )


def incremental_dedup_against_store(
    new_docs: DataFrame,
    store: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    n_hashes: int = 16,
    bands: int = 4,
    est_threshold: float = 0.5,
    new_store: DataFrame | None = None,
    persist_stores: bool = True,
) -> DataFrame:
    """Judge every document of ``new_docs`` against a persisted dedup
    ``store`` (see :func:`build_dedup_store`) and against lower-id docs of
    its own batch. Only the NEW batch is read as text; the existing
    corpus participates purely through its stored hashes/signatures, and
    the candidate join is asymmetric — (new × store) and
    (new × lower-id new), never store × store — so per-batch cost scales
    with the batch, not the corpus.

    Verdict priority (first match wins):
      exact_existing > exact_new > near_existing > near_new > unique
    exact = stored md5 equality; near = MinHash signature agreement ≥
    ``est_threshold`` on band-bucket candidates (integer agreement count
    / n_hashes — exact arithmetic, fully oracle-able).

    Returns (doc_id, verdict, dup_of); dup_of = the smallest matching
    partner id within the winning class, -1 for unique.
    """
    if new_store is None:
        new_store = build_dedup_store(new_docs, id_col, text_col, n, n_hashes)
    # Both stores feed four consumer branches (exact-existing, exact-new,
    # banding self-join sides, output spine); without persistence each
    # branch re-runs the shingle explode + aggregation. The store IS the
    # persisted artifact in the production design (streaming/incremental.py
    # keeps it on disk between batches) — a few dozen bytes per doc, orders
    # of magnitude smaller than the text it summarizes.
    #
    # persist_stores=False is for callers that already manage caching of
    # these frames (incremental_dedup hands in two filters of ONE persisted
    # frame; the streaming runner persists per batch and unpersists after
    # writing) — an unconditional persist here would either double-cache or
    # leak one store snapshot per micro-batch for the session's lifetime.
    if persist_stores:
        store = store.persist()
        new_store = new_store.persist()
    new_h = new_store.select(
        F.col("id").alias("doc_id"), F.col("content_h").alias("__h")
    )
    ex_h = store.select(F.col("id").alias("__eid"), F.col("content_h").alias("__h"))
    exact_ex = (
        new_h.join(ex_h, "__h")
        .groupBy("doc_id")
        .agg(F.min("__eid").alias("__p_exact_ex"))
    )
    lower_new = new_h.select(F.col("doc_id").alias("__nid"), "__h")
    exact_new = (
        new_h.join(lower_new, "__h")
        .filter(F.col("__nid") < F.col("doc_id"))
        .groupBy("doc_id")
        .agg(F.min("__nid").alias("__p_exact_new"))
    )
    banded_ex = banded_signatures(
        store.select("id", "sig"), n_hashes, bands
    ).withColumn("__new", F.lit(False))
    banded_new = banded_signatures(
        new_store.select("id", "sig"), n_hashes, bands
    ).withColumn("__new", F.lit(True))
    a = banded_ex.unionByName(banded_new).select(
        F.col("id").alias("id_a"), F.col("sig").alias("sig_a"),
        F.col("__new").alias("new_a"), "band", "bucket",
    )
    b = banded_new.select(
        F.col("id").alias("doc_id"), F.col("sig").alias("sig_b"), "band", "bucket"
    )
    # No .distinct() on candidates: a pair agreeing on several bands
    # appears several times, but every occurrence carries the same
    # signatures (hence the same est), and the per-doc min() aggregation
    # below is duplicate-insensitive — deduping here would cost a full
    # extra shuffle of the candidate stream for zero semantic effect.
    # (Contrast minhash_lsh_pairs, whose OUTPUT is the pair list itself,
    # where distinct() is the semantics.)
    cand = (
        a.join(b, ["band", "bucket"])
        .filter(
            (~F.col("new_a") & (F.col("id_a") != F.col("doc_id")))
            | (F.col("new_a") & (F.col("id_a") < F.col("doc_id")))
        )
        .select("doc_id", "id_a", "new_a", "sig_a", "sig_b")
    )
    est = F.size(
        F.filter(F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y), lambda e: e)
    ) / F.lit(float(n_hashes))
    near = (
        cand.withColumn("__est", est)
        .filter(F.col("__est") >= est_threshold)
        .groupBy("doc_id")
        .agg(
            F.min(F.when(~F.col("new_a"), F.col("id_a"))).alias("__p_near_ex"),
            F.min(F.when(F.col("new_a"), F.col("id_a"))).alias("__p_near_new"),
        )
    )
    out = (
        new_h.select("doc_id")
        .join(exact_ex, "doc_id", "left")
        .join(exact_new, "doc_id", "left")
        .join(near, "doc_id", "left")
    )
    verdict = (
        F.when(F.col("__p_exact_ex").isNotNull(), F.lit("exact_existing"))
        .when(F.col("__p_exact_new").isNotNull(), F.lit("exact_new"))
        .when(F.col("__p_near_ex").isNotNull(), F.lit("near_existing"))
        .when(F.col("__p_near_new").isNotNull(), F.lit("near_new"))
        .otherwise(F.lit("unique"))
    )
    dup_of = F.coalesce(
        F.col("__p_exact_ex"), F.col("__p_exact_new"),
        F.col("__p_near_ex"), F.col("__p_near_new"), F.lit(-1).cast("bigint"),
    )
    return out.select("doc_id", verdict.alias("verdict"), dup_of.alias("dup_of"))


def incremental_dedup(
    docs: DataFrame,
    is_new: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    n_hashes: int = 16,
    bands: int = 4,
    est_threshold: float = 0.5,
) -> DataFrame:
    """Cross-batch dedup verdicts over a single tagged corpus: builds ONE
    store over the whole corpus with the ``is_new`` tag carried through the
    shingle aggregation, splits it by tag, and delegates to
    :func:`incremental_dedup_against_store`. A single text scan + shingle
    explode + aggregation serves both sides (building the two stores
    separately re-shingled the corpus twice). Convenience shape for the
    driver tables (where parquet is the only storage); production keeps
    the store persisted and calls the store variant directly."""
    store_all = _signature_rows(
        docs, id_col, text_col, n, n_hashes,
        carry={
            "content_h": F.md5(F.encode(norm_text(F.col(text_col)), "UTF-8")),
            "__new": is_new,
        },
    ).persist()
    return incremental_dedup_against_store(
        docs.filter(is_new),
        store_all.filter(~F.col("__new")).drop("__new"),
        id_col, text_col, n, n_hashes, bands, est_threshold,
        new_store=store_all.filter(F.col("__new")).drop("__new"),
        persist_stores=False,  # both sides are filters of the cached store_all
    )


def duplicate_span_coverage(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
) -> DataFrame:
    """Substring-level dedup audit (Lee et al. 2021, arXiv:2107.06499,
    re-expressed at token granularity): for every document, the number of
    token positions covered by at least one k-token span that occurs ≥2
    times corpus-wide (including self-repeats), and the covered fraction.

    Shape at scale: one posexplode of sliding k-gram spans (the span
    stream IS the shuffle, same order of magnitude as the text); one
    count-by-span aggregation (map-side partials); a semi-join back to
    positions; then a per-doc interval merge — the classic
    running-max/window formulation, which shuffles once on doc id and
    sorts within doc only. No suffix array needed for coverage semantics:
    a position is covered iff one of the ≤k spans touching it is
    duplicated, so span granularity is exact, not an approximation.

    Returns (doc_id, n_tokens, dup_tokens, dup_ratio); docs shorter than
    k tokens have zero coverage by construction.
    """
    base = _spread(docs).select(
        F.col(id_col).alias("id"), norm_text(F.col(text_col)).alias("__t")
    )
    # Persisted: the span stream feeds the count aggregate AND the
    # candidate join. (A COUNT-over-window partitioned by span would need
    # only one shuffle, but WindowExec sorts and BUFFERS each partition —
    # a ubiquitous boilerplate span becomes a task-OOM at scale. The
    # groupBy aggregates with map-side partials and the join fans out
    # row-by-row; AQE skew-join splits any straggler. Skew-robustness
    # wins over the saved shuffle.)
    #
    # The span STRINGS (k tokens each) are the bytes on the wire: the span
    # stream is corpus-sized, and this plan's dominant cost is shuffling it
    # into the count aggregate and the candidate join. Project each span to
    # a 60-bit md5-prefix key map-side (8 bytes vs ~6·k) BEFORE the
    # shuffle — counting/joining by hash is exact up to md5-prefix
    # collisions (~N²/2^61, negligible for the audit), and the DuckDB
    # oracle mirrors the same hash so the gate stays bit-for-bit.
    span_key = F.conv(
        F.substring(F.md5(F.encode(F.col("span"), "UTF-8")), 1, 15), 16, 10
    ).cast("bigint")
    spans = (
        base.select(
            "id", F.posexplode(word_shingles(F.col("__t"), k)).alias("pos", "span")
        )
        .select("id", "pos", span_key.alias("sh"))
        .persist()
    )
    dup = (
        spans.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .filter(F.col("__cnt") >= 2)
        .select("sh")
    )
    hits = spans.join(dup, "sh").select(
        "id", F.col("pos").alias("s"), (F.col("pos") + F.lit(k)).alias("e")
    )
    w_prev = Window.partitionBy("id").orderBy("s").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_run = Window.partitionBy("id").orderBy("s").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    merged = (
        hits.withColumn("__pe", F.max("e").over(w_prev))
        .withColumn(
            "__new",
            F.when(F.col("__pe").isNull() | (F.col("s") > F.col("__pe")), 1).otherwise(0),
        )
        .withColumn("__grp", F.sum("__new").over(w_run))
        .groupBy("id", "__grp")
        .agg((F.max("e") - F.min("s")).alias("__covered"))
        .groupBy("id")
        .agg(F.sum("__covered").alias("dup_tokens"))
    )
    nt = base.select("id", F.size(tokens(F.col("__t"))).alias("n_tokens"))
    return nt.join(merged, "id", "left").select(
        F.col("id").alias("doc_id"),
        "n_tokens",
        F.coalesce(F.col("dup_tokens"), F.lit(0).cast("bigint")).alias("dup_tokens"),
        (
            F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("double") / F.col("n_tokens")
        ).alias("dup_ratio"),
    )


# ---------------------------------------------------------------------------
# Bucketed persisted store: zero-shuffle exact-dedup ingest
# ---------------------------------------------------------------------------


def write_dedup_store_bucketed(
    store: DataFrame, table: str, path: str, n_buckets: int = 8
) -> None:
    """Persist a dedup store (:func:`build_dedup_store` rows) bucketed on
    ``content_h``: the exact-dedup spine of every subsequent ingest joins
    store⋈batch on that key, so bucketing both sides makes ingest
    shuffle-free (the store side — the corpus-sized side — never moves).
    Append a judged batch with the SAME bucket spec and the store stays
    co-located forever; at 100 TB size n_buckets so one bucket fits an
    executor (see ops/bucketing.write_bucketed)."""
    from counsel_data_pipeline_spark.ops.bucketing import write_bucketed

    write_bucketed(
        store.select("id", "content_h", "sig"), table, "content_h", n_buckets, path
    )


def exact_dup_classes_bucketed(
    spark, batch_table: str, store_table: str
) -> DataFrame:
    """Exact-duplicate class audit of an ingest batch against the
    persisted store, keyed by ``content_h`` END-TO-END so the whole plan
    (two scans → two aggregates → join → verdict) needs ZERO Exchange
    when both tables are bucketed on ``content_h``: the aggregates run on
    bucket-local partitions and preserve the hash partitioning the join
    then reuses.

    Returns one row per batch content class: (content_h, n_batch,
    min_batch_id, n_store, min_store_id, verdict) with verdict ∈
    exact_existing | exact_new_class | unique."""
    bagg = (
        spark.table(batch_table)
        .groupBy("content_h")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_batch"),
            F.min("id").alias("min_batch_id"),
        )
    )
    sagg = (
        spark.table(store_table)
        .groupBy("content_h")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_store"),
            F.min("id").alias("min_store_id"),
        )
    )
    # merge hint: an AQE broadcast of either side would reintroduce a
    # BroadcastExchange — the co-located sort-merge IS the point here
    joined = bagg.hint("merge").join(sagg, "content_h", "left")
    return joined.select(
        "content_h",
        "n_batch",
        "min_batch_id",
        F.coalesce(F.col("n_store"), F.lit(0)).cast("bigint").alias("n_store"),
        F.coalesce(F.col("min_store_id"), F.lit(-1)).cast("bigint").alias(
            "min_store_id"
        ),
        F.when(F.col("n_store").isNotNull(), F.lit("exact_existing"))
        .when(F.col("n_batch") > 1, F.lit("exact_new_class"))
        .otherwise(F.lit("unique"))
        .alias("verdict"),
    )
