"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram
Jaccard, embedding-cosine near-dup.

Scale design: every stage that touches all N documents is expressed as
JVM column math (shingling, per-permutation min-hashing, band hashing)
so dedup runs at scan speed; only SimHash uses an Arrow-vectorized
pandas UDF (bit-count math is numpy-friendlier than expression trees).
Candidate generation is always hash-bucket joins (shuffle on band/
bucket keys — the classic MinHash-LSH plan), never an N² cross join;
exact pairwise verification runs only inside candidate buckets.

Every operator here shingles through ``shingles``: one codegen'd
``regexp_extract_all`` per text, no per-shingle lambda. The two exact
prefix-filter operators (``ngram_jaccard_threshold_pairs``,
``incremental_jaccard_pairs``) share one core: ``_set_table`` (set,
size, Bloom summary), ``_prefix_index`` (hashes only; DF by a window,
no join) and ``_pruned_verified`` (pair-distinct, then one set-table
join per side feeding a sound Bloom prune and the exact verify).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .textops import words_col


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup via content-hash groupBy: keep the smallest id per
    hash (deterministic winner), count the rest. Hash-shuffle on the
    digest — one pass."""
    h = F.md5(F.col(text_col))
    return (
        df.withColumn("_h", h)
        .groupBy("_h")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .withColumn("n_dupes", F.col("n_copies") - 1)
        .drop("_h")
    )


def shingles(text_col: str = "text", k: int = 3):
    """k-word shingles of ``text_col``, fields split on single spaces
    (the ``words_col`` convention): the i-th shingle is the substring
    ``concat_ws(' ', slice(split(text, ' '), i, k))``; a text of fewer
    than k fields gives itself as its one shingle, and null gives ''.

    One codegen'd ``regexp_extract_all``, no lambda: every match is
    zero-width at the start of a field (offset 0, or right after a
    space) and its lookahead captures that field and the k − 1 after
    it, so a start with fewer than k − 1 fields after it does not
    match. Both anchors must stay zero-width: with ``(?:^| )`` the
    matcher resumes at offset 1 after the empty match at 0, a leading
    space is never consumed and ``' a b c'`` loses ``'a b c'``. The
    space test must be the positive ``(?<= )``: the negated
    ``(?<![^ ])`` also holds between the two halves of a surrogate pair
    (Java reads the pair as one code point ending past that offset), so
    ``'😀 b'`` would gain a half-character shingle."""
    text = F.col(text_col)
    pattern = f"(?:^|(?<= ))(?=([^ ]*(?: [^ ]*){{{k - 1}}}))"
    return F.when(
        F.size(words_col(text)) >= k, F.regexp_extract_all(text, F.lit(pattern), 1)
    ).otherwise(F.array(F.coalesce(text, F.lit(""))))


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 64,
    shingle_k: int = 3,
    seed: int = 42,
) -> DataFrame:
    """MinHash signature per document: sig[i] = min over shingles of
    xxhash64(shingle, seed+i).

    Plan shape: explode the shingle array ONCE, then one hash aggregate
    computing all ``num_perm`` mins (map-side partial combine → one
    shuffle on ``id_col``). The earlier all-in-one-projection variant
    inlined the shingle construction (sequence/slice/concat_ws) into
    every permutation's expression tree — Catalyst's project collapse
    re-evaluated it ``num_perm`` times per row, ~30× slower at sf0.1.
    Values are identical (same xxhash64(shingle, seed+i) definition)."""
    exploded = df.select(id_col, F.explode(shingles(text_col, shingle_k)).alias("_sh"))
    mins = exploded.groupBy(id_col).agg(
        *[
            F.min(F.xxhash64("_sh", F.lit(seed + i))).alias(f"_m{i}")
            for i in range(num_perm)
        ]
    )
    return mins.select(
        id_col, F.array(*[F.col(f"_m{i}") for i in range(num_perm)]).alias("minhash")
    )


def lsh_candidate_pairs(
    sig_df: DataFrame,
    id_col: str = "doc_id",
    bands: int = 16,
    rows_per_band: int = 4,
) -> DataFrame:
    """Band the signatures (b×r), hash each band, bucket-join: documents
    sharing any band bucket become candidate pairs. The only shuffle is
    on (band, band_hash); bucket sizes are bounded by collision rate,
    not N."""
    banded = sig_df.select(
        id_col,
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(
                        F.concat_ws(
                            ",",
                            *[
                                F.element_at("minhash", b * rows_per_band + r + 1).cast("string")
                                for r in range(rows_per_band)
                            ],
                        ),
                        F.lit(b),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band", "band_hash"),
    )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 64,
    shingle_k: int = 3,
    bands: int = 16,
    rows_per_band: int = 4,
    threshold: float = 0.7,
    seed: int = 42,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: signatures → band buckets →
    candidate pairs → estimated Jaccard (signature agreement) filter."""
    # materialized once: the signature table feeds both sides of the
    # band-bucket self-join AND both sig-attach joins — four full
    # shingle+minhash passes without the checkpoint
    sigs = minhash_signatures(df, id_col, text_col, num_perm, shingle_k, seed).localCheckpoint()
    cands = lsh_candidate_pairs(sigs, id_col, bands, rows_per_band)
    sa = sigs.withColumnRenamed(id_col, "id_a").withColumnRenamed("minhash", "sig_a")
    sb = sigs.withColumnRenamed(id_col, "id_b").withColumnRenamed("minhash", "sig_b")
    est = (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "est_jaccard",
            F.size(
                F.filter(
                    F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
                    lambda v: v == 1,
                )
            ).cast("double")
            / F.lit(num_perm),
        )
        .select("id_a", "id_b", "est_jaccard")
    )
    return est.where(F.col("est_jaccard") >= threshold)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str | None = None,
    shingle_k: int = 3,
    max_df: int | None = None,
    materialize: bool = True,
) -> DataFrame:
    """Exact n-gram Jaccard for all within-group pairs via an inverted
    index join (shingle → docs), not a cross join.

    Scale guard: a shingle appearing in ``f`` documents produces
    ~``f²/2`` join rows, so high-document-frequency shingles degenerate
    the index into a cross join through one skewed key.  ``max_df``
    drops shingles whose document frequency exceeds the cap from BOTH
    the index and the per-doc set sizes — the result is then the exact
    Jaccard over the sub-``max_df`` shingle universe (the standard
    stopword-capped Jaccard).  The hot-shingle list is tiny (only
    shingles with DF > cap) and applied as a broadcast anti-join.
    ``shingle_k`` defaults to 3 (rare shingles) to match the MinHash
    path; word-level (k=1) callers should set ``max_df``.

    Intended position at scale: verification stage behind
    ``lsh_candidate_pairs`` (see ``lsh_verified_pairs``) or capped
    standalone for modest corpora."""
    sh = F.array_distinct(shingles(text_col, shingle_k))
    gcols = [group_col] if group_col else []
    toks = df.select(id_col, *gcols, F.explode(sh).alias("tok"))
    if max_df is not None:
        hot = (
            toks.groupBy("tok")
            .agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") > max_df)
            .select("tok")
        )
        toks = toks.join(F.broadcast(hot), "tok", "left_anti")
    # the (capped) token table feeds the size rollup and both sides of
    # the inverted-index join — materialize it once
    # (``materialize=False`` keeps the lazy plan for plan audits)
    if materialize:
        toks = toks.localCheckpoint()
    sizes = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    a = toks.alias("a")
    b = toks.alias("b")
    cond = (F.col("a.tok") == F.col("b.tok")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    if group_col:
        cond = cond & (F.col(f"a.{group_col}") == F.col(f"b.{group_col}"))
    inter = (
        a.join(b, cond)
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    # sizes has one row per DOCUMENT — unbounded at corpus scale, so it
    # must never be force-broadcast (a billions-row broadcast OOMs the
    # driver at 100 TB).  Plain equi-joins: AQE broadcasts them at
    # runtime when the corpus is actually small, and shuffles otherwise.
    return (
        inter.join(sizes.withColumnRenamed(id_col, "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
        .join(sizes.withColumnRenamed(id_col, "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
        .withColumn("union_sz", F.col("sz_a") + F.col("sz_b") - F.col("inter"))
        .withColumn("jaccard", F.col("inter").cast("double") / F.col("union_sz"))
        .select("id_a", "id_b", "inter", "union_sz", "jaccard")
    )


#: Bloom-summary width of the exact-Jaccard pair prune, in buckets. An
#: element e of a shingle set falls in bucket ``pmod(xxhash64(e),
#: BLOOM_BITS)``, and a document keeps the distinct buckets its set
#: fills (``_bi``, at most ``min(|S|, BLOOM_BITS)`` ints). Read at call
#: time, so a test can narrow it to force bucket collisions.
BLOOM_BITS = 1024

#: Columns the exact-Jaccard set table and prefix index add beside the
#: caller's id, text and group columns; a caller column of the same name
#: would be overwritten or made ambiguous.
_INTERNAL_COLS = frozenset(
    {"_set", "_sz", "_bi", "_tok", "_th", "_df", "_pos", "_is_delta"}
)


def _check_args(threshold: float, *cols: str | None) -> None:
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    clash = sorted(c for c in cols if c in _INTERNAL_COLS)
    if clash:
        raise ValueError(f"column names {clash} are reserved by the exact-Jaccard operators")


def _set_table(df: DataFrame, id_col: str, text_col: str, keep: list, shingle_k: int) -> DataFrame:
    """Per-document set table of the exact-Jaccard operators (lazy; the
    operators checkpoint it): ``keep`` columns, the distinct shingle set
    ``_set`` (``shingles``: one codegen'd regex pass per text), its size
    ``_sz`` and its Bloom summary ``_bi``, the distinct bucket indices
    of its elements — one xxhash64 per element. ``_set`` is left
    unsorted: the prefix order comes from the window and the verify only
    counts the intersection.

    Materialize it once: it feeds the token explode and both sides of
    the prune and verify joins, and without the checkpoint Catalyst
    re-plans it per consumer (the r5 plan scanned the parquet six times
    and pushed the explode-inferred ``size(set) > 0`` filter below the
    caller's repartition). At cluster scale this is the fingerprint
    table of the all-pairs papers: size ∝ corpus tokens, spillable,
    never collected to the driver."""
    sh = F.array_distinct(shingles(text_col, shingle_k))
    bi = F.array_distinct(
        F.transform("_set", lambda t: F.pmod(F.xxhash64(t), F.lit(BLOOM_BITS)).cast("int"))
    )
    return df.select(id_col, *keep, sh.alias("_set")).select(
        id_col, *keep, "_set", F.size("_set").alias("_sz"), bi.alias("_bi")
    )


def _prefix_index(docs: DataFrame, id_col: str, keep: list, threshold: float) -> DataFrame:
    """Prefix index over a ``_set_table`` (lazy): per document, the
    ``xxhash64`` (``_th``) of the first ``|S| − ⌈t·|S|⌉ + 1`` shingles
    in ascending (global document frequency, hash) order (Bayardo et al.
    WWW'07), less those whose hash occurs in one row only — such a row
    can never collide. That filter sits after the window: ``_pos``
    counts every token.

    Only hashes leave the explode, so the plan is two exchanges of longs
    and no join: ``_df`` is a count over a window partitioned by
    ``_th`` (no aggregate joined back), then ``_pos`` a row number over
    the document ordered by ``(_df, _th)``. The shingle string is not
    carried past the hash: the prefix bound needs no tie-break inside a
    hash. Let c* be the first hash A and B share in this order.
    Every row of A before c* has a hash B lacks, so it is a distinct
    shingle of A \\ B: at most |A| − α rows precede c*, and c* lies in
    both prefixes. Joining on the hash can only add collision
    candidates, which the prune and the exact verify remove.

    Skew: the heaviest ``_th`` window partition holds every row of the
    most frequent shingle. Its sort spills, but AQE's skew-join split,
    which divides a hot join key, does not apply to a window;
    ``tools/dedup_stress.py --exact`` reports that stage's heaviest
    task."""
    from pyspark.sql import Window

    toks = docs.select(id_col, *keep, "_sz", F.explode("_set").alias("_tok")).select(
        id_col, *keep, "_sz", F.xxhash64("_tok").alias("_th")
    )
    w = Window.partitionBy(id_col).orderBy("_df", "_th")
    # ceiling with a DOWNWARD bias: float ceil(t*n) can overshoot the
    # value the float jaccard comparison actually implies (e.g.
    # 0.07*100 → 7.000000000000001 → ceil 8, yet inter=7/union=100
    # divides to exactly the threshold double and qualifies). Biasing
    # the product down by 1e-9 can only LENGTHEN the prefix — more
    # candidates, never a lost pair — so exactness is preserved in the
    # safe direction (pinned by test_prefix_ceiling_never_overshoots).
    alpha = F.ceil(F.lit(threshold) * F.col("_sz") - F.lit(1e-9))
    return (
        toks.withColumn("_df", F.count(F.lit(1)).over(Window.partitionBy("_th")))
        .withColumn("_pos", F.row_number().over(w))
        .where((F.col("_pos") <= F.col("_sz") - alpha + 1) & (F.col("_df") > 1))
        .select(id_col, *keep, "_th")
    )


def _with_sides(pairs: DataFrame, docs: DataFrame, id_col: str, cols: list) -> DataFrame:
    """Attach ``cols`` of the per-document table ``docs`` to both sides
    of the id pairs ``(id_a, id_b)``, suffixed ``_a``/``_b``: one
    equi-join per side."""
    for side in ("a", "b"):
        pairs = pairs.join(
            docs.select(
                F.col(id_col).alias(f"id_{side}"),
                *[F.col(c).alias(f"{c}_{side}") for c in cols],
            ),
            f"id_{side}",
        )
    return pairs


def _bloom_overlap_ubound():
    """Upper bound on |A ∩ B| over the ``_sz`` and ``_bi`` columns of
    both sides: ``|_bi_a ∩ _bi_b| + min(_sl_a, _sl_b)``, where the slack
    ``_sl = _sz − |_bi|`` counts the elements whose bucket another
    element of the same set already fills.

    A bucket filled by A but not by B holds an element of A \\ B, and
    distinct buckets hold distinct elements, so
    |A ∩ B| ≤ |A| − |_bi_a \\ _bi_b| = |_bi_a ∩ _bi_b| + _sl_a, and the
    same for B. (``|_bi_a ∩ _bi_b|`` alone is NOT a bound: common
    elements that share a bucket are counted once.)"""
    def slack(side):
        return F.col(f"_sz_{side}") - F.size(f"_bi_{side}")

    return F.size(F.array_intersect("_bi_a", "_bi_b")) + F.least(slack("a"), slack("b"))


def _verified(pairs: DataFrame, threshold: float) -> DataFrame:
    """Exact verify of id pairs carrying both sides' shingle sets
    (``_set_a``, ``_set_b``): keep ``jaccard ≥ threshold``, with
    ``inter`` from ``array_intersect``."""
    inter = F.size(F.array_intersect("_set_a", "_set_b"))
    union = F.size("_set_a") + F.size("_set_b") - inter
    return pairs.select(
        "id_a", "id_b",
        inter.alias("inter"),
        union.alias("union_sz"),
        (inter.cast("double") / union).alias("jaccard"),
    ).where(F.col("jaccard") >= threshold)


def _pruned_verified(colls: DataFrame, docs: DataFrame, id_col: str, threshold: float) -> DataFrame:
    """Pair-distinct, Bloom prune and exact verify of the prefix
    collisions ``colls`` over the set table ``docs``.

    The distinct runs first, on the id pairs alone, so each surviving
    pair joins the set table once per side and carries ``_sz``, ``_bi``
    and ``_set`` into both the prune and the verify (2 joins, not 4).
    The prune keeps a pair only if ``_bloom_overlap_ubound`` can still
    reach the overlap a qualifying pair needs,
    J ≥ t ⟺ |A∩B| ≥ t/(1+t)·(|A|+|B|), with the ceiling biased down
    like the prefix length's: the bound is sound, so no qualifying pair
    is dropped, and the survivors go through the exact verify that
    produces the output values."""
    required = F.ceil(
        F.lit(threshold / (1.0 + threshold)) * (F.col("_sz_a") + F.col("_sz_b"))
        - F.lit(1e-9)
    )
    pairs = _with_sides(colls.distinct(), docs, id_col, ["_sz", "_bi", "_set"])
    return _verified(pairs.where(_bloom_overlap_ubound() >= required), threshold)


def ngram_jaccard_threshold_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str | None = None,
    shingle_k: int = 3,
) -> DataFrame:
    """EXACT all-pair Jaccard ≥ ``threshold`` at scale via PREFIX
    FILTERING (Bayardo/Ma/Srikant, "Scaling Up All Pairs Similarity
    Search", WWW 2007; Chaudhuri/Ganti/Kaushik SSJoin, ICDE 2006).

    Each document's distinct shingles are ordered by ascending GLOBAL
    document frequency (rarest first, ties by shingle hash); only the first
    ``|S| − ⌈t·|S|⌉ + 1`` shingles are indexed. Pigeonhole guarantee:
    J(A,B) ≥ t ⟹ |A∩B| ≥ ⌈t·max(|A|,|B|)⌉, and two sets sharing that
    many elements must collide inside these prefixes — so candidate
    generation loses NOTHING while the inverted index shrinks to the
    rare tail of each document (hot shingles land at prefix ends and
    mostly drop out: the skew that degenerates the unthresholded index
    prunes itself). Candidates pass a sound Bloom prune and are then
    verified with exact ``array_intersect`` over the full shingle sets.

    This is the scalable EXACT companion to ``lsh_verified_pairs``
    (exact with no LSH recall caveat) and to the unthresholded
    ``ngram_jaccard_pairs`` reporter (which must keep every
    1-shingle-overlap pair and therefore cannot prune)."""
    _check_args(threshold, id_col, text_col, group_col)
    gcols = [group_col] if group_col else []
    docs = _set_table(df, id_col, text_col, gcols, shingle_k).localCheckpoint()
    # both sides of the candidate self-join read one materialized index
    prefix = _prefix_index(docs, id_col, gcols, threshold).localCheckpoint()
    a = prefix.alias("a")
    b = prefix.alias("b")
    cond = (F.col("a._th") == F.col("b._th")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    if group_col:
        cond = cond & (F.col(f"a.{group_col}") == F.col(f"b.{group_col}"))
    colls = a.join(b, cond).select(
        F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
    )
    return _pruned_verified(colls, docs, id_col, threshold)


def incremental_jaccard_pairs(
    corpus: DataFrame,
    delta: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
) -> DataFrame:
    """EXACT thresholded Jaccard for the INCREMENTAL ingest pattern:
    a new batch (``delta``) arrives and must be deduplicated against
    the existing ``corpus`` (and against itself) WITHOUT re-pairing
    corpus × corpus — the operation every rolling crawl pipeline runs
    per batch.

    Same set table, prefix index, prune and verify as
    ``ngram_jaccard_threshold_pairs`` (Bayardo et al. WWW'07 —
    pigeonhole guarantee over global-DF-ordered prefixes), but the
    candidate join PROBES only delta prefixes against the full index:
    candidate cost ∝ |delta| × collision rate, never |corpus|².
    Corpus-corpus pairs are excluded structurally (the probe side is
    delta); delta-delta pairs are kept once via id ordering. At real
    scale the corpus-side prefix index and its DF counts are the
    materialize-once artifacts (recompute DF over corpus∪delta only
    shifts prefix ORDER, which affects efficiency, not correctness —
    any consistent global token order preserves the pigeonhole bound).

    ``corpus`` and ``delta`` must have disjoint ids. Output:
    ``(id_a < id_b, inter, union_sz, jaccard)`` where at least one
    side is a delta doc — the exact pair set the unpruned inequality
    join would produce, restricted to pairs touching delta."""
    _check_args(threshold, id_col, text_col)
    full = corpus.select(id_col, text_col).withColumn(
        "_is_delta", F.lit(False)
    ).unionByName(
        delta.select(id_col, text_col).withColumn("_is_delta", F.lit(True))
    )
    docs = _set_table(full, id_col, text_col, ["_is_delta"], shingle_k).localCheckpoint()
    prefix = _prefix_index(docs, id_col, ["_is_delta"], threshold).localCheckpoint()
    a = prefix.alias("a")
    b = prefix.where(F.col("_is_delta")).alias("b")
    cond = (
        (F.col("a._th") == F.col("b._th"))
        & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}"))
        # delta-delta pairs once (a.id < b.id); corpus-delta pairs in
        # full (the corpus doc may carry either the smaller or larger id)
        & (~F.col("a._is_delta") | (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
    )
    colls = a.join(b, cond).select(
        F.least(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("id_a"),
        F.greatest(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("id_b"),
    )
    return _pruned_verified(colls, docs, id_col, threshold)


def lsh_verified_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 64,
    shingle_k: int = 3,
    bands: int = 16,
    rows_per_band: int = 4,
    threshold: float = 0.7,
    seed: int = 42,
) -> DataFrame:
    """The scale-correct exact-Jaccard pipeline: MinHash-LSH candidate
    generation, then EXACT Jaccard verification restricted to candidate
    pairs via ``array_intersect`` on per-doc shingle sets.

    No inverted-index self-join anywhere: candidates come from the
    band-bucket join (bounded by collision rate, not N²) and the
    verification join touches |candidates| rows, each with two bounded
    shingle arrays.  This is the operator to use when exact Jaccard ≥
    threshold pairs are wanted from a large corpus."""
    # both intermediates are multi-consumed (self-join / two attach
    # joins) — materialize each once instead of re-shingling the corpus
    # per consumer
    sigs = minhash_signatures(df, id_col, text_col, num_perm, shingle_k, seed).localCheckpoint()
    cands = lsh_candidate_pairs(sigs, id_col, bands, rows_per_band)
    sets_df = df.select(
        id_col, F.array_distinct(shingles(text_col, shingle_k)).alias("_set")
    ).localCheckpoint()
    return _verified(_with_sides(cands, sets_df, id_col, ["_set"]), threshold)


# ---------------------------------------------------------------------------
# SimHash — token hashing JVM-side (xxhash64), bit-vote in numpy
# ---------------------------------------------------------------------------


def simhash_from_hashes(hashes: np.ndarray) -> int:
    """64-bit SimHash from token hashes (uint64 array): per-bit majority
    vote; tie (vote == 0) → bit 0."""
    if len(hashes) == 0:
        return 0
    hs = np.asarray(hashes, dtype=np.uint64)
    bits = ((hs[:, None] >> np.arange(64, dtype=np.uint64)[None, :]) & np.uint64(1)).astype(np.int64)
    votes = (2 * bits - 1).sum(axis=0)
    weights = np.left_shift(np.uint64(1), np.arange(64, dtype=np.uint64))
    return int(np.bitwise_or.reduce(np.where(votes > 0, weights, np.uint64(0))))


def simhash_np(words: list[str]) -> int:
    """64-bit SimHash of a token list. Token hashes are Spark
    ``xxhash64(token)`` (seed 42) — recomputed here via the pure-Python
    reimplementation (functions/xxh64.py) so tests and oracle
    generators get bit-identical values to the Spark path without a
    session."""
    from ..functions.xxh64 import spark_hash_string

    if not words:
        return 0
    hs = np.array([spark_hash_string(w) for w in words], dtype=np.int64).view(np.uint64)
    return simhash_from_hashes(hs)


def with_simhash(df: DataFrame, text_col: str = "text") -> DataFrame:
    """SimHash column. Per-token 64-bit hashes are computed JVM-side
    (``transform(split(text), xxhash64)`` — codegen'd, scan speed); the
    Arrow-batched pandas UDF only does the numpy bit-vote over the hash
    array (no Python string hashing — the round-1 per-char FNV loop is
    gone). Returns the unsigned value reinterpreted as signed int64."""

    @F.pandas_udf(T.LongType())
    def _vote(hash_arrays: pd.Series) -> pd.Series:
        # one vectorized vote per BATCH, not per row: flatten every
        # doc's hash array into one (N, 64) bit matrix and segment-sum
        # with np.add.reduceat (segments between consecutive non-empty
        # row starts are exactly the per-doc runs). Bit-identical to
        # simhash_from_hashes — same ±1 votes, same tie-to-0 rule.
        arrs = [np.asarray(a, dtype=np.int64) for a in hash_arrays]
        lens = np.fromiter((len(a) for a in arrs), dtype=np.int64, count=len(arrs))
        out = np.zeros(len(arrs), dtype=np.uint64)
        nz = lens > 0
        if nz.any():
            flat = np.concatenate([a for a in arrs if len(a)]).view(np.uint64)
            bits = (
                (flat[:, None] >> np.arange(64, dtype=np.uint64)[None, :])
                & np.uint64(1)
            ).astype(np.int64)
            starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
            votes = np.add.reduceat(2 * bits - 1, starts[nz], axis=0)
            weights = np.left_shift(np.uint64(1), np.arange(64, dtype=np.uint64))
            out[nz] = np.bitwise_or.reduce(
                np.where(votes > 0, weights[None, :], np.uint64(0)), axis=1
            )
        return pd.Series(out.view(np.int64))

    tok_hashes = F.when(
        F.col(text_col) != "",
        F.transform(F.split(F.col(text_col), " "), lambda w: F.xxhash64(w)),
    ).otherwise(F.array().cast("array<bigint>"))
    return df.withColumn("simhash", _vote(tok_hashes))


def simhash_near_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    n_chunks: int = 4,
) -> DataFrame:
    """Near-dup pairs by SimHash with an EXACT recall guarantee.

    Buckets on ``n_chunks`` equal bit-chunks of the 64-bit SimHash; by
    pigeonhole, any pair with Hamming distance ≤ ``n_chunks − 1`` has at
    least one identical chunk and is guaranteed to collide in a bucket.
    ``max_hamming`` may therefore not exceed ``n_chunks − 1`` — larger
    radii would silently miss pairs whose differing bits spread across
    all chunks (the round-1 defect).  Candidates are verified with
    ``bit_count`` on the XOR; bucket-join, no cross join.

    Scale note: chunk width is ``64 / n_chunks`` bits, so the bucket key
    space is ``2^(64/n_chunks)`` per chunk.  The default (4 chunks × 16
    bits, radius ≤ 3) keeps buckets cold at corpus scale; ``n_chunks=8``
    (8-bit chunks, radius ≤ 7) buys a wider radius at quadratically
    hotter buckets (256 values per chunk) — use it on grouped/partitioned
    corpora, not a raw 100 TB scan."""
    if 64 % n_chunks != 0:
        raise ValueError(f"n_chunks must divide 64, got {n_chunks}")
    if max_hamming > n_chunks - 1:
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the pigeonhole guarantee of "
            f"{n_chunks} chunks (d ≤ {n_chunks - 1}); raise n_chunks or lower max_hamming"
        )
    width = 64 // n_chunks
    mask = (1 << width) - 1
    sh = with_simhash(df) if "simhash" not in df.columns else df
    # materialize (id, simhash) once: the chunk table feeds BOTH sides
    # of the bucket self-join, and without the checkpoint the Arrow
    # pandas-UDF bit-vote (plus the per-token xxhash64 transform) runs
    # twice over the corpus
    sh = sh.select(id_col, "simhash").localCheckpoint()
    chunks = sh.select(
        id_col,
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned("simhash", width * i).bitwiseAND(F.lit(mask))
                    for i in range(n_chunks)
                ]
            )
        ).alias("chunk_idx", "chunk_val"),
    )
    a = chunks.alias("a")
    b = chunks.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        # hamming filter BEFORE the pair-distinct: the XOR+popcount is
        # a codegen'd projection over the raw collision rows, so the
        # distinct's shuffle only carries the (rare) near pairs instead
        # of every bucket collision (tens of millions of rows at 8-bit
        # chunks). Same rows out: the predicate is row-deterministic,
        # so filter∘distinct ≡ distinct∘filter.
        .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .distinct()
    )
    return pairs


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    group_col: str | None = None,
    dim: int | None = None,
    n_bits: int = 8,
    n_tables: int = 8,
    seed: int = 42,
    allow_full_pairs: bool = False,
) -> DataFrame:
    """Embedding-cosine near-dup: normalized dot product via
    ``F.zip_with`` + ``F.aggregate`` (JVM).

    Pair generation — three routes, safest first:

    * ``group_col`` given → equi-join within groups (bounded group
      sizes are the caller's contract);
    * ungrouped (default) → sign-LSH bucketing via
      ``similarity.random_hyperplane_buckets``: pairs only form inside
      (table, bucket) cells, so there is NO full self-join in the plan
      (approximate recall: only pairs colliding in ≥ 1 of ``n_tables``
      tables are found — at ``threshold ≥ 0.95`` collision probability
      per table is (1−θ/π)^n_bits with θ ≤ 18°, so recall is high);
    * ``allow_full_pairs=True`` → the exact O(N²) self-join, explicit
      opt-in for small inputs only.
    """
    norm = F.sqrt(
        F.aggregate(
            F.transform(F.col(vec_col), lambda x: x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x * x,
        )
    )
    base = df.select(
        F.col(id_col).alias("id"),
        *([group_col] if group_col else []),
        F.col(vec_col).alias("v"),
        norm.alias("nrm"),
    )
    dot = F.aggregate(
        F.zip_with("a.v", "b.v", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cosine = (dot / (F.col("a.nrm") * F.col("b.nrm"))).alias("cosine")
    if group_col is None and not allow_full_pairs:
        # scale path: sign-LSH buckets; pairs form only inside a
        # (table, bucket) cell. Within a cell, pairwise cosines come
        # from ONE numpy GEMM per cell (applyInPandas) instead of a
        # self-join evaluating an interpreted zip_with/aggregate fold
        # per candidate — measured ~5× faster at ~10⁶ collision
        # candidates with identical pair semantics (cosine =
        # dot/(‖a‖·‖b‖), id_a < id_b, cross-table dedup after). Cell
        # sizes are bounded by the collision rate, so each GEMM is
        # small and the distributed dimension is the cell fan-out.
        from .similarity import infer_dim, random_hyperplane_buckets

        if dim is None:
            dim = infer_dim(df, vec_col)
        bkts = random_hyperplane_buckets(
            base, n_bits=n_bits, n_tables=n_tables, id_col="id", vec_col="v",
            dim=dim, seed=seed,
        ).select("id", "v", "nrm", "table", "bucket")
        id_field = base.schema["id"]
        out_schema = T.StructType(
            [
                T.StructField("id_a", id_field.dataType),
                T.StructField("id_b", id_field.dataType),
                T.StructField("cosine", T.DoubleType()),
            ]
        )
        thr = float(threshold)

        def cell_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
            n = len(pdf)
            if n < 2:
                return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []}).astype(
                    {"cosine": "float64"}
                )
            pdf = pdf.sort_values("id", kind="mergesort")
            mat = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            nrm = pdf["nrm"].to_numpy(dtype=np.float64)
            # GEMM is a SCREEN only: its last-ulp depends on the cell's
            # matrix shape, and the same pair can appear in different
            # cells. Kept pairs get a cell-shape-INDEPENDENT exact
            # recompute ((a·b) as a per-row pairwise reduction over the
            # fixed dim), so cross-table duplicates carry bit-identical
            # cosines and dropDuplicates is deterministic.
            cos = (mat @ mat.T) / np.outer(nrm, nrm)
            ia, ib = np.triu_indices(n, 1)
            screen = cos[ia, ib] >= thr - 1e-9
            ia, ib = ia[screen], ib[screen]
            dots = (mat[ia] * mat[ib]).sum(axis=1)
            cosine = dots / (nrm[ia] * nrm[ib])
            keep = cosine >= thr
            ids = pdf["id"].to_numpy()
            return pd.DataFrame(
                {
                    "id_a": ids[ia[keep]],
                    "id_b": ids[ib[keep]],
                    "cosine": cosine[keep],
                }
            )

        return (
            bkts.groupBy("table", "bucket")
            .applyInPandas(cell_pairs, out_schema)
            .dropDuplicates(["id_a", "id_b"])
        )
    a = base.alias("a")
    b = base.alias("b")
    cond = F.col("a.id") < F.col("b.id")
    if group_col:
        cond = cond & (F.col(f"a.{group_col}") == F.col(f"b.{group_col}"))
    return (
        a.join(b, cond)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            cosine,
        )
        .where(F.col("cosine") >= threshold)
    )


# ---------------------------------------------------------------------------
# cross-corpus line/chunk dedup + duplicated-span detection
# ---------------------------------------------------------------------------

def chunk_col(text_col: str = "text", chunk_words: int = 8):
    """Fixed-width word chunks ("lines" for corpora without newlines):
    consecutive ``chunk_words``-word segments of the whitespace token
    stream, the last one possibly short. JVM transform — no Python in
    the row path. Reference parity: the C4 pipeline's unit of global
    dedup is the line; driver corpora have no newlines, so the fixed
    word window is the deterministic stand-in both engines can derive
    identically."""
    words = words_col(text_col)
    n = F.size(words)
    n_chunks = F.ceil(n.cast("double") / F.lit(float(chunk_words))).cast("int")
    return F.transform(
        F.sequence(F.lit(0), F.greatest(n_chunks, F.lit(1)) - F.lit(1)),
        lambda i: F.concat_ws(" ", F.slice(words, i * chunk_words + 1, chunk_words)),
    )


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_words: int = 8,
) -> DataFrame:
    """C4-style global line dedup: explode fixed-width word chunks,
    keep exactly ONE occurrence of each distinct chunk corpus-wide —
    the lexicographically smallest ``(doc_id, chunk_idx)`` — and
    reconstruct each document from its surviving chunks in order.

    Plan: posexplode → groupBy(chunk) with a partial-aggregating
    ``min(struct(id, idx))`` (map-side combine, one hash shuffle on the
    chunk text) → semi-join winners back → per-doc sort_array rebuild.
    At 100 TB the shuffle key is the chunk string; swapping it for
    ``xxhash64(chunk)`` halves payload at the cost of the live SQL
    oracle, so the hash variant is left to the caller.

    Returns one row per input document: ``id_col``, ``n_chunks``,
    ``n_kept``, ``text_dedup`` (may be empty when every chunk lost).
    """
    chunks = (
        df.select(F.col(id_col), F.posexplode(chunk_col(text_col, chunk_words)).alias("idx", "chunk"))
    )
    winners = chunks.groupBy("chunk").agg(
        F.min(F.struct(F.col(id_col).alias("i"), F.col("idx").alias("x"))).alias("w")
    ).select("chunk", F.col("w.i").alias(id_col), F.col("w.x").alias("idx"))
    kept = chunks.join(winners, ["chunk", id_col, "idx"], "left_semi")
    per_doc_kept = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "chunk"))),
                lambda s: s["chunk"],
            ),
            " ",
        ).alias("text_dedup"),
    )
    totals = chunks.groupBy(id_col).agg(F.count(F.lit(1)).cast("long").alias("n_chunks"))
    return (
        totals.join(per_doc_kept, id_col, "left")
        .select(
            id_col,
            "n_chunks",
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce("text_dedup", F.lit("")).alias("text_dedup"),
        )
    )


def dup_span_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram_k: int = 8,
) -> DataFrame:
    """Exact duplicated-span detection (the substring-dedup signal of
    Lee et al., "Deduplicating Training Data Makes Language Models
    Better", word-level): a position ``p`` of a document is *covered*
    when some ``ngram_k``-gram starting in ``(p-k, p]`` also occurs in
    at least one OTHER document. Reports, per document, how many token
    positions duplicated spans cover.

    Plan: explode k-gram start positions → groupBy(gram) with a
    two-value partial agg (min/max doc) to decide cross-doc duplication
    without a distinct-count shuffle → semi-join duplicated starts back
    → per-doc interval union via one lag window (covered ends never
    need per-position rows: consecutive duplicated starts s₁<s₂ add
    ``min(k, s₂-s₁)`` new covered positions).

    Returns per-doc rows: ``id_col``, ``n_tokens``, ``n_dup_starts``,
    ``covered_tokens``."""
    from pyspark.sql import Window
    words = words_col(text_col)
    n_tok = F.size(words).cast("long")
    base = df.select(F.col(id_col), n_tok.alias("n_tokens"), words.alias("_w"))
    grams = base.where(F.col("n_tokens") >= ngram_k).select(
        id_col,
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), (F.col("n_tokens") - F.lit(ngram_k - 1)).cast("int")),
                lambda i: F.concat_ws(" ", F.slice(F.col("_w"), i, ngram_k)),
            )
        ).alias("pos", "gram"),
        # materialized once: the gram table feeds the duplication
        # aggregate AND the semi-join probe (2× k-gram construction
        # without it). Grams stay strings end-to-end — a hashed key
        # here would have no exact re-verify to absorb collisions.
    ).localCheckpoint()
    dup_grams = (
        grams.groupBy("gram")
        .agg(F.min(id_col).alias("_lo"), F.max(id_col).alias("_hi"))
        .where(F.col("_lo") != F.col("_hi"))
        .select("gram")
    )
    dup_starts = grams.join(dup_grams, "gram", "left_semi")
    w = Window.partitionBy(id_col).orderBy("pos")
    covered = (
        dup_starts.withColumn("_prev", F.lag("pos").over(w))
        .withColumn(
            "_new",
            F.when(F.col("_prev").isNull(), F.lit(ngram_k)).otherwise(
                F.least(F.lit(ngram_k), F.col("pos") - F.col("_prev"))
            ),
        )
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_dup_starts"),
            F.sum("_new").cast("long").alias("covered_tokens"),
        )
    )
    return (
        base.select(id_col, "n_tokens")
        .join(covered, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            F.coalesce("n_dup_starts", F.lit(0)).cast("long").alias("n_dup_starts"),
            F.coalesce("covered_tokens", F.lit(0)).cast("long").alias("covered_tokens"),
        )
    )
