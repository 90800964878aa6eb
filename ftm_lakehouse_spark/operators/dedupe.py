"""Duplicate and near-duplicate detection operators for training-data
pipelines.

Operator families, in increasing recall/cost:

1. **Exact** — :func:`exact_duplicates` (content-hash window),
   :func:`fingerprint_duplicates` (token-set hash groupBy, word-order
   invariant) and :func:`duplicate_chunks` (passage-level chunk
   hashes). One shuffle on a narrow hash key each.
2. **Blocked near-duplicate tiers** — :func:`minhash_lsh_pairs`
   (banded MinHash, Jaccard verify), :func:`simhash_duplicates`
   (Charikar :func:`simhash`, pigeonhole block probe, hamming verify),
   :func:`ngram_jaccard_pairs` (prefix blocking key, exact n-gram
   Jaccard), :func:`embedding_near_dups` (hyperplane-LSH blocking,
   exact cosine) and :func:`semantic_dedup_pairs` (k-means cell
   blocking, exact cosine; :func:`semantic_dedup_keep` applies the
   keeper policy). All five are one filter-verify pipeline: collapse
   exact copies to value grain (:func:`_value_groups`), equi-join on
   the tier's blocking key, verify the candidates with the tier's
   score, and expand surviving representative pairs to member pairs
   (:func:`_expand_members`). Each tier owns only its blocking key,
   verify expression and self-score.
3. **Clusters** — :func:`connected_components` (hash-min label
   propagation) and :func:`minhash_cluster_canonical`, which runs it
   over the value-grain MinHash edges.
4. **Substring overlap** — :func:`winnow_fingerprint_pairs` (MOSS
   winnowing) and :func:`benchmark_overlap` (benchmark
   decontamination by shared n-gram shingles).

Scale notes (100 TB): every stage is a projection or a key-partitioned
shuffle; nothing collects to the driver. The blocking joins salt
naturally (bucket keys are hashes); ``spark.sql.adaptive.skewJoin``
covers pathological buckets (e.g. boilerplate-heavy corpora).
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Materialization policy (SCALE.md §8): every lineage cut in this
#: module holds a DATA-SIZED table (collapsed texts, shingle/signature
#: projections — O(distinct docs) rows or wider), so none may cache as
#: deserialized JVM objects (the sf10 pagerank OOM, generalized) —
#: they take the serialized-with-spill policy level. Exceptions: label
#: propagation's edge set is iteration-invariant (the pagerank-edges
#: analog) and stays hard DISK_ONLY; its per-round ``new_labels``,
#: replaced and dropped next round, keeps the memory default.
from ftm_lakehouse_spark.persist import DATA_SIZED as _DISK

from ftm_lakehouse_spark.functions.text import (
    fingerprint,
    lsh_band_keys,
    minhash_signature,
    tokens,
    word_shingles,
)

__all__ = [
    "exact_duplicates",
    "fingerprint_duplicates",
    "minhash_cluster_canonical",
    "minhash_lsh_pairs",
    "simhash",
    "simhash_duplicates",
    "ngram_jaccard_pairs",
    "embedding_near_dups",
    "benchmark_overlap",
    "duplicate_chunks",
    "winnow_fingerprint_pairs",
    "semantic_dedup_pairs",
    "semantic_dedup_keep",
]


def exact_duplicates(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """doc_id → (content_hash, keeper_id, n_copies, is_duplicate)."""
    from pyspark.sql import Window as W

    w = W.partitionBy("content_hash")
    return (
        docs.select(id_col, F.md5(text_col).alias("content_hash"))
        .withColumn("keeper_id", F.min(id_col).over(w))
        .withColumn("n_copies", F.count("*").over(w))
        .withColumn("is_duplicate", F.col(id_col) != F.col("keeper_id"))
    )


def fingerprint_duplicates(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Groups sharing a token-set fingerprint (order/dup-invariant)."""
    return (
        docs.select(id_col, fingerprint(F.col(text_col)).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.sort_array(F.collect_list(id_col)).alias("members"), F.count("*").alias("n"))
        .filter(F.col("n") > 1)
    )


def _value_groups(frame: DataFrame, value: str, *extra_aggs) -> DataFrame:
    """Exact-duplicate pre-collapse of a blocked dedup tier: ``frame``'s
    ``doc`` ids grouped by the ``value`` they are scored on, as
    (value, rep, *extra_aggs, members) with ``rep`` the min member.

    Introduced after the sf1 sweep measured semantic dedup super-linear
    under replication: a web-scale corpus carries every popular text or
    vector in MANY exact copies, and a candidate join at doc grain then
    computes the SAME score once per copy-pair — quadratic in the
    duplication factor. Every blocking key and score in this module is a
    pure function of the value, so exact copies share every candidate.
    Grouping by the value itself (no hash, no collision risk) runs the
    candidate join and verify once per DISTINCT value; the member pairs
    are expanded afterwards by :func:`_expand_members`. Bit-identical
    output (same value → same fold), distance work linear in distinct
    values, and only the unavoidable output expansion quadratic in
    duplication."""
    return (
        frame.groupBy(value)
        .agg(
            F.min("doc").alias("rep"),
            *extra_aggs,
            F.sort_array(F.collect_list("doc")).alias("members"),
        )
        .localCheckpoint(eager=False, storageLevel=_DISK)
    )


def _with_members(rep_pairs: DataFrame, grp: DataFrame) -> DataFrame:
    """Attach each side's member list (``ma``, ``mb``) to the verified
    representative pairs (ra, rb, ...)."""
    return rep_pairs.join(
        grp.select(F.col("rep").alias("ra"), F.col("members").alias("ma")), "ra"
    ).join(grp.select(F.col("rep").alias("rb"), F.col("members").alias("mb")), "rb")


def _expand_members(
    cross: DataFrame, within: DataFrame, cols: list, op: str, allow_quadratic: bool
) -> DataFrame:
    """Member-pair expansion of a blocked tier: (a, b, *cols) with a < b.

    ``cross`` is the output of :func:`_with_members`: every member of
    the a-group pairs with every member of the b-group, the score
    ``cols`` shared (identical values). Groups are disjoint, so
    least/greatest restores the a < b contract of the doc-grain
    formulation. ``within`` holds the duplicate groups (``members`` plus
    ``cols``) that already passed the tier's own self-score threshold;
    every i < j member pair of such a group is a candidate too. Both
    expansions are guarded by :func:`_expansion_guard_filter`."""
    cross = (
        _expansion_guard_filter(
            cross, F.size("ma").cast("bigint") * F.size("mb"), op, allow_quadratic
        )
        .select(*cols, F.explode("ma").alias("i"), "mb")
        .select(*cols, "i", F.explode("mb").alias("j"))
        .select(F.least("i", "j").alias("a"), F.greatest("i", "j").alias("b"), *cols)
    )
    within = (
        _expansion_guard_filter(
            within,
            F.size("members").cast("bigint") * F.size("members"),
            op,
            allow_quadratic,
        )
        .select(*cols, F.explode("members").alias("i"), "members")
        .select(*cols, "i", F.explode("members").alias("j"))
        .filter(F.col("i") < F.col("j"))
        .select(F.col("i").alias("a"), F.col("j").alias("b"), *cols)
    )
    return cross.select("a", "b", *cols).unionByName(within)


def _jaccard(a, b):
    """Exact Jaccard of two array columns, rounded to 6 places. A
    duplicate group's self-score goes through the SAME expression (1.0
    for any non-empty set) rather than being assumed, so an
    engine-rounding change can never make the two paths diverge."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.round(inter / union, 6)


def _minhash_value_stage(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    bands: int,
    shingle_words: int,
    jaccard_threshold: float,
):
    """The value-grain core of banded MinHash LSH, shared by the pair
    expansion (:func:`minhash_lsh_pairs`) and the cluster operator
    (:func:`minhash_cluster_canonical`): exact-duplicate pre-collapse,
    shingle/signature projection, banded candidate join, exact-Jaccard
    verify — all at DISTINCT-text grain. Returns ``(grp, base,
    rep_pairs)``: the (text → rep, members) collapse, the shingled
    representatives, and the verified value-level edges
    (ra, rb, jaccard)."""
    rows = num_hashes // bands
    par = docs.sparkSession.sparkContext.defaultParallelism
    grp = _value_groups(
        # the shingle/signature projections are CPU-bound: spread the
        # corpus across cores even when the source is one small file
        docs.repartition(par).select(
            F.col(id_col).alias("doc"), F.col(text_col).alias("text")
        ),
        "text",
    )
    base = (
        # explicit repartition between the collapse and the projection:
        # AQE coalesces the small post-groupBy shuffle to ~1 partition,
        # which would serialize the CPU-heavy shingle computation onto
        # one core (measured 2× on the whole query at sf0.1)
        grp.repartition(par)
        .select(
            F.col("rep").alias("doc"),
            word_shingles(F.col("text"), shingle_words).alias("shingles"),
        )
        .filter(F.size("shingles") > 0)
        # base feeds three plan branches (band keys + two candidate
        # re-hydrations); cutting lineage materializes the shingle
        # computation once instead of three times
        .localCheckpoint(eager=False, storageLevel=_DISK)
    )
    # band keys only — the heavy shingle arrays do NOT travel through
    # the bucket join; candidates are re-hydrated afterwards
    banded = (
        base.select(
            "doc",
            F.explode(
                lsh_band_keys(
                    minhash_signature(F.col("shingles"), num_hashes), bands, rows
                )
            ).alias("bk"),
        )
        .select("doc", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
        # banded feeds BOTH sides of the candidate self-join, and the
        # signature expression (num_hashes × |shingles| md5+concat per
        # row) is the most allocation-heavy projection in the engine —
        # without a lineage cut it executes twice per run (round-13,
        # guide §1.2/§5: measured 495 s CPU + 167 s GC in one 32-task
        # stage when the duplicated evaluation GC-storms a warm 16g
        # heap, vs 26 s CPU for the identical stage on a fresh heap).
        # Materializing the narrow (doc, band, key) table computes the
        # signatures ONCE; at 100 TB this is |docs|×bands rows of
        # ~50 B — far cheaper than a second full signature pass.
        .localCheckpoint(eager=False, storageLevel=_DISK)
    )

    cand = (
        banded.alias("l")
        .join(
            banded.alias("r"),
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.key") == F.col("r.key"))
            & (F.col("l.doc") < F.col("r.doc")),
        )
        .select(F.col("l.doc").alias("a"), F.col("r.doc").alias("b"))
        .dropDuplicates(["a", "b"])
    )
    pairs = (
        cand.join(base.select(F.col("doc").alias("a"), F.col("shingles").alias("sa")), "a")
        .join(base.select(F.col("doc").alias("b"), F.col("shingles").alias("sb")), "b")
    )
    rep_pairs = (
        pairs.withColumn("jaccard", _jaccard("sa", "sb"))
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select(F.col("a").alias("ra"), F.col("b").alias("rb"), "jaccard")
    )
    return grp, base, rep_pairs


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_words: int = 3,
    jaccard_threshold: float = 0.5,
    allow_quadratic: bool = False,
) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash LSH, verified with
    exact Jaccard over the shingle sets.

    Returns (a, b, jaccard) with a < b, jaccard >= threshold. The
    member-pair expansion (quadratic in the copy count) refuses rows
    whose single-group expansion exceeds :data:`MAX_EXPANSION_PAIRS`
    unless ``allow_quadratic=True`` — the banded candidate tier is the
    scale path.
    """
    grp, base, rep_pairs = _minhash_value_stage(
        docs, id_col, text_col, num_hashes, bands, shingle_words,
        jaccard_threshold,
    )
    # within a duplicate group every pair is a candidate (identical
    # signatures share all bands)
    within = (
        base.join(grp.select(F.col("rep").alias("doc"), "members"), "doc")
        .filter(F.size("members") > 1)
        .select("members", _jaccard("shingles", "shingles").alias("jaccard"))
        .filter(F.col("jaccard") >= jaccard_threshold)
    )
    return _expand_members(
        _with_members(rep_pairs, grp), within, ["jaccard"], "minhash_lsh_pairs",
        allow_quadratic,
    )


def simhash(text_col, bits: int = 48):
    """Charikar SimHash as a bigint column: per-token md5 → bit votes →
    sign. Near-dup docs differ in few bits (hamming distance).

    Implemented with higher-order functions: fold token hashes into a
    per-bit vote vector, collapse votes to a binary string, and parse it
    with ``conv`` (sign-safe for ``bits <= 62``; default 48 keeps every
    intermediate exact)."""
    toks = F.array_distinct(tokens(text_col))
    votes = F.aggregate(
        toks,
        F.array_repeat(F.lit(0), bits),
        lambda acc, t: F.zip_with(
            acc,
            _token_bits(t, bits),
            lambda a, b: a + F.when(b == 1, 1).otherwise(-1),
        ),
    )
    chars = F.transform(
        F.reverse(votes), lambda v: F.when(v > 0, F.lit("1")).otherwise(F.lit("0"))
    )
    return F.conv(F.array_join(chars, ""), 2, 10).cast("long")


def _token_bits(token, bits: int):
    """First ``bits`` bits of md5(token) as array<int> of 0/1."""
    hexstr = F.md5(token)
    nibbles = F.transform(
        F.sequence(F.lit(1), F.lit(bits // 4)),
        lambda i: F.conv(hexstr.substr(i, F.lit(1)), 16, 10).cast("int"),
    )
    return F.flatten(
        F.transform(
            nibbles,
            lambda nb: F.array(
                F.shiftright(nb, 3).bitwiseAND(F.lit(1)),
                F.shiftright(nb, 2).bitwiseAND(F.lit(1)),
                F.shiftright(nb, 1).bitwiseAND(F.lit(1)),
                nb.bitwiseAND(F.lit(1)),
            ),
        )
    )


#: refuse member-pair expansions beyond this without an explicit
#: ``allow_quadratic=True`` — at sf100 the simhash expansion measured
#: 428B pairs / 6413 s on 32 cores; at 100 TB an accidental launch of
#: such a tier is a cluster-day (VERDICT r9 item 6)
MAX_EXPANSION_PAIRS = 2_000_000_000

#: edge count above which connected_components pins a join-key hash
#: layout for the iteration joins (below it the label table broadcasts
#: and the layout is irrelevant) — same regime boundary as
#: pagerank_fixed_point's edge re-layout
CC_RELAYOUT_EDGES = 50_000_000


def _guard_quadratic(est_pairs: int, op: str, allow: bool) -> None:
    """Loud refusal for an output expansion that is quadratic in the
    duplication factor. ``est_pairs`` is an exact pre-computed count of
    the pairs the expansion would emit (NOT a heuristic), so the guard
    costs no extra job where the layout logic already aggregates it."""
    if est_pairs > MAX_EXPANSION_PAIRS and not allow:
        raise RuntimeError(
            f"{op}: the duplicate-pair expansion would emit "
            f"~{est_pairs:,} pairs (> {MAX_EXPANSION_PAIRS:,}) — output "
            f"quadratic in the copy count. This is almost always an "
            f"accidental launch on a heavily-replicated corpus; the "
            f"blocking/candidate tier is the scale path. Pass "
            f"allow_quadratic=True to run it anyway, or consume the "
            f"representative pairs + members mapping instead of the "
            f"expanded pair list."
        )


def _expansion_guard_filter(df: DataFrame, count_expr, op: str, allow: bool) -> DataFrame:
    """Row-local EXECUTION-TIME variant of :func:`_guard_quadratic` for
    expansions whose layout logic does not already aggregate an exact
    total (adding a counting job to those hot paths would cost more
    than the guard is worth): a single candidate row whose member
    expansion alone exceeds :data:`MAX_EXPANSION_PAIRS` fails the job
    from inside codegen via ``assert_true`` — zero extra jobs, zero
    rows changed on the pass path (``assert_true`` returns NULL on
    success and the filter keeps every row)."""
    if allow:
        return df
    return df.filter(
        F.assert_true(
            count_expr.cast("bigint") <= F.lit(MAX_EXPANSION_PAIRS),
            F.lit(
                f"{op}: a single duplicate-group expansion exceeds "
                f"{MAX_EXPANSION_PAIRS:,} pairs — output quadratic in the "
                f"copy count; pass allow_quadratic=True to run it anyway"
            ),
        ).isNull()
    )


def simhash_duplicates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    blocks: int = 4,
    bits: int = 48,
    allow_quadratic: bool = False,
) -> DataFrame:
    """Hamming-close pairs by block probing: split the simhash into
    ``blocks`` chunks; pairs within ``max_hamming < blocks`` bits must
    share at least one exact chunk (pigeonhole), so an equi-join per
    chunk finds all of them without O(n²).

    The CANDIDATE tier is linear-ish by construction (pigeonhole
    equi-joins at distinct-text grain); what can go quadratic is the
    final member-pair EXPANSION on a heavily-replicated corpus (every
    doc in R copies → R² pairs per duplicate group: 428B pairs /
    6413 s measured at sf100). By default the expansion refuses above
    :data:`MAX_EXPANSION_PAIRS` — pass ``allow_quadratic=True`` for a
    deliberate full-pair run (the estimate reuses the layout
    aggregates, so the guard adds no job)."""
    from ftm_lakehouse_spark.operators.similarity import _sig_chunks

    par = docs.sparkSession.sparkContext.defaultParallelism
    grp = _value_groups(
        docs.repartition(par).select(
            F.col(id_col).alias("doc"), F.col(text_col).alias("text")
        ),
        "text",
    )
    sh = (
        # the explicit repartition keeps the CPU-heavy signature fold
        # off the AQE-coalesced post-groupBy layout
        grp.repartition(par)
        .select(F.col("rep").alias("doc"), simhash(F.col("text"), bits).alias("sh"))
        # three consumers (both probe sides + the within-group branch):
        # materialize the signature fold once
        .localCheckpoint(eager=False, storageLevel=_DISK)
    )
    chunked = sh.select(
        "doc", "sh", _sig_chunks(F.col("sh"), bits, blocks - 1).alias("c")
    ).select("doc", "sh", F.col("c.block").alias("block"), F.col("c.chunk").alias("chunk"))
    l, r = chunked.alias("l"), chunked.alias("r")
    # hamming is a cheap pure function of the pair (xor + popcount), so
    # it is computed IN the join projection and the ``<= max_hamming``
    # filter runs BEFORE the dropDuplicates exchange (round-13, guide
    # §2.3: filter/project before the shuffle): only near-pairs and a
    # 1-byte distance travel the dedup shuffle, instead of every
    # chunk-collision pair dragging both 8-byte raw signatures through
    # it (46 MB → ~1 MB at bench SF). A pair surviving via several
    # blocks recomputes the popcount per block — far cheaper than
    # shuffling the losers. Identical pair set: hamming is the same on
    # every copy of a pair, and filter∘dedup ≡ dedup∘filter for a
    # row-pure predicate.
    cand = (
        l.join(
            r,
            (F.col("l.block") == F.col("r.block"))
            & (F.col("l.chunk") == F.col("r.chunk"))
            & (F.col("l.doc") < F.col("r.doc")),
        )
        .select(
            F.col("l.doc").alias("a"),
            F.col("r.doc").alias("b"),
            F.bit_count(F.col("l.sh").bitwiseXOR(F.col("r.sh"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["a", "b"])
    )
    rep_pairs = cand.select(
        F.col("a").alias("ra"), F.col("b").alias("rb"), "hamming"
    )
    # ---- data-adaptive expansion layout (round-8 sf100 defect). The
    # member expansions below multiply each value-grain row by
    # |ma|·|mb| (cross) or |members|² (within). Under heavy replication
    # the pre-explode frames are TINY (value grain) and inherit a
    # handful of partitions, so the explode runs as a few
    # multi-billion-row tasks — measured at sf100: 428B pairs emerged
    # from 34 map-side tasks of ~12.6B rows each, a zero-progress
    # hour-scale stage. Same lesson as pagerank's edge re-layout: lay
    # the loop/expansion input out FOR the expansion. One cheap
    # aggregate over the checkpointed value-grain `grp` decides
    # whether any of this is needed (max member count == 1 means 1:1
    # expansion — the natural-corpus fast path pays one tiny job and
    # nothing else); the repartitions spread the explode so each task
    # emits ~250M rows. All layout-only: row set unchanged.
    _target = 250_000_000
    g_stats = grp.agg(
        F.max(F.size("members")).alias("mx"),
        F.sum(F.size("members").cast("bigint") * F.size("members")).alias("m2"),
    ).collect()[0]
    heavy_copies = (g_stats["mx"] or 1) > 1
    est = 0
    if heavy_copies:
        # Decide with small rows (round-13, guide §8): the layout
        # estimate needs only member COUNTS, so the NARROW
        # (ra, rb, hamming) pair table is checkpointed and joined to a
        # two-column sizes view of ``grp`` — the round-12 form
        # checkpointed the pair table with BOTH member arrays already
        # attached (46 MB written + re-read at bench SF, arbitrarily
        # wide under heavy replication) just to sum their sizes. The
        # member arrays now travel exactly once, directly into the
        # expansion join below.
        rep_pairs = rep_pairs.localCheckpoint(eager=False, storageLevel=_DISK)
        sizes = grp.select(F.col("rep").alias("_r"), F.size("members").alias("_m"))
        est = (
            rep_pairs.join(
                sizes.select(F.col("_r").alias("ra"), F.col("_m").alias("_sa")), "ra"
            )
            .join(
                sizes.select(F.col("_r").alias("rb"), F.col("_m").alias("_sb")), "rb"
            )
            .agg(F.sum(F.col("_sa").cast("bigint") * F.col("_sb")).alias("s"))
            .collect()[0]["s"]
            or 0
        )
        # total expansion = cross-group pairs + within-group pairs
        # (m2 upper-bounds members²); both already computed for layout
        _guard_quadratic(
            est + int(g_stats["m2"] or 0), "simhash_duplicates", allow_quadratic
        )
    cross = _with_members(rep_pairs, grp)
    if heavy_copies and est > 8 * _target:
        cross = cross.repartition(int(min(4096, max(par, est // _target))))
    # within a duplicate group: identical text → identical simhash →
    # hamming 0, computed with the same expression rather than assumed
    self_h = F.bit_count(F.col("sh").bitwiseXOR(F.col("sh")))
    within = (
        sh.join(grp.select(F.col("rep").alias("doc"), "members"), "doc")
        .filter(F.size("members") > 1)
        .select("members", self_h.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )
    if heavy_copies and (g_stats["m2"] or 0) > 8 * _target:
        within = within.repartition(
            int(min(4096, max(par, (g_stats["m2"] or 0) // _target)))
        )
    # the exact total already passed _guard_quadratic above (or every
    # group is a singleton), so the row-local guard is not needed
    return _expand_members(
        cross, within, ["hamming"], "simhash_duplicates", allow_quadratic=True
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.3,
    block_tokens: int = 4,
    allow_quadratic: bool = False,
) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs from a cheap blocking
    key (first ``block_tokens`` tokens). The SQL-oracle-friendly tier:
    everything is array ops + one equi-join. The member-pair expansion
    refuses single-group expansions beyond :data:`MAX_EXPANSION_PAIRS`
    unless ``allow_quadratic=True``."""
    toks = tokens(F.col("text"))
    par = docs.sparkSession.sparkContext.defaultParallelism
    grp = _value_groups(
        docs.repartition(par).select(
            F.col(id_col).alias("doc"), F.col(text_col).alias("text")
        ),
        "text",
    )
    base = (
        # post-collapse repartition: see _minhash_value_stage
        grp.repartition(par)
        .select(
            F.col("rep").alias("doc"),
            word_shingles(F.col("text"), n).alias("sh"),
            F.md5(F.concat_ws(" ", F.slice(toks, 1, block_tokens))).alias("block"),
        )
        .filter(F.size("sh") > 0)
        .localCheckpoint(eager=False, storageLevel=_DISK)
    )
    l, r = base.alias("l"), base.alias("r")
    rep_pairs = (
        l.join(r, (F.col("l.block") == F.col("r.block")) & (F.col("l.doc") < F.col("r.doc")))
        .select(
            F.col("l.doc").alias("ra"),
            F.col("r.doc").alias("rb"),
            _jaccard("l.sh", "r.sh").alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    within = (
        base.join(grp.select(F.col("rep").alias("doc"), "members"), "doc")
        .filter(F.size("members") > 1)
        .select("members", _jaccard("sh", "sh").alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )
    return _expand_members(
        _with_members(rep_pairs, grp), within, ["jaccard"], "ngram_jaccard_pairs",
        allow_quadratic,
    )


def embedding_near_dups(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.98,
    num_bits: int = 16,
    max_hamming: int = 2,
    dim: int = 64,
    allow_quadratic: bool = False,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: hyperplane-LSH blocking
    (cosine-close vectors share signature bits) + exact cosine verify.

    The candidate stage is the SimHash pigeonhole pattern applied to
    hyperplane signatures: pairs within ``max_hamming`` differing bits
    must share one of ``max_hamming + 1`` signature chunks, so an
    equi-join per chunk finds them without an O(n²) cross join. Exact
    cosine then filters to ``>= threshold``. Returns (a, b, cosine).
    """
    from ftm_lakehouse_spark.functions.vectors import dot_product, l2_norm
    from ftm_lakehouse_spark.operators.similarity import _sig_chunks, hyperplane_signature

    sig = hyperplane_signature(F.col("vec"), num_bits, dim)
    grp = _value_groups(
        vectors.select(F.col(id_col).alias("doc"), F.col(vec_col).alias("vec")), "vec"
    )
    # norm once per VECTOR (n rows), not per candidate pair (~n²/buckets
    # rows) — cosine(a,b) = dot(a,b)/(|a|·|b|) is float-identical either
    # way (same ops, same order), so the oracle is unaffected. The
    # explicit repartition keeps the CPU-heavy signature projection off
    # the AQE-coalesced (≈1-partition) post-groupBy layout.
    par = vectors.sparkSession.sparkContext.defaultParallelism
    base = (
        grp.repartition(par)
        .select(
            F.col("rep").alias("doc"),
            "vec",
            sig.alias("sig"),
            l2_norm(F.col("vec")).alias("norm"),
        )
        .localCheckpoint(eager=False, storageLevel=_DISK)
    )
    chunked = base.select(
        "doc", "sig", _sig_chunks(F.col("sig"), num_bits, max_hamming).alias("c")
    ).select("doc", F.col("c.block").alias("block"), F.col("c.chunk").alias("chunk"))
    cand = (
        chunked.alias("l")
        .join(
            chunked.alias("r"),
            (F.col("l.block") == F.col("r.block"))
            & (F.col("l.chunk") == F.col("r.chunk"))
            & (F.col("l.doc") < F.col("r.doc")),
        )
        .select(F.col("l.doc").alias("a"), F.col("r.doc").alias("b"))
        .dropDuplicates(["a", "b"])
        # spread the cosine verify (round-13, the same reason grp/base
        # repartition after their groupBy): the dedup shuffle output is
        # a few MB of (a, b) keys, so AQE coalesces it to 1–2
        # partitions, and the 64-dim dot products below — ~100× denser
        # per byte than the shuffle itself — serialized onto 1–2 cores
        # (measured: a 2-task 1.9 s CPU tail on the bench gate). The
        # extra exchange re-moves only the narrowest table in the
        # operator (24 B/pair), bounded by the dedup exchange that just
        # moved the same bytes.
        .repartition(par)
    )
    hydrated = cand.join(
        base.select(
            F.col("doc").alias("a"), F.col("vec").alias("va"), F.col("norm").alias("na")
        ),
        "a",
    ).join(
        base.select(
            F.col("doc").alias("b"), F.col("vec").alias("vb"), F.col("norm").alias("nb")
        ),
        "b",
    )
    cosine = dot_product(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    # zero-norm guard: a zero vector's cosine is 0/0 = NaN, and BOTH
    # Spark and DuckDB order NaN above every number, so `cosine >=
    # threshold` would silently INCLUDE undefined-cosine pairs. A zero
    # vector is similar to nothing — exclude it explicitly so engine,
    # static oracle, and staged oracle agree by construction rather
    # than by the corpus happening to contain no zero vectors.
    rep_pairs = (
        hydrated.withColumn("cosine", F.round(cosine, 6))
        .filter((F.col("na") > 0) & (F.col("nb") > 0))
        .filter(F.col("cosine") >= threshold)
        .select(F.col("a").alias("ra"), F.col("b").alias("rb"), "cosine")
    )
    self_cos = F.round(
        dot_product(F.col("vec"), F.col("vec"))
        / (l2_norm(F.col("vec")) * l2_norm(F.col("vec"))),
        6,
    )
    within = (
        grp.filter(F.size("members") > 1)
        # zero-norm guard (see rep_pairs): self-cosine of a zero vector
        # is NaN, which Spark orders above the threshold
        .filter(dot_product(F.col("vec"), F.col("vec")) > 0)
        .select("members", self_cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )
    return _expand_members(
        _with_members(rep_pairs, grp), within, ["cosine"], "embedding_near_dups",
        allow_quadratic,
    )


def connected_components(
    edges: DataFrame,
    src: str = "a",
    dst: str = "b",
    max_iterations: int = 50,
) -> DataFrame:
    """Connected components by hash-min label propagation — the
    scalable CC pattern (HashToMin, Rastogi et al. 2013): every node
    repeatedly adopts the minimum label in its neighborhood, converging
    in O(component diameter) rounds; each round is one shuffle join +
    one min-aggregation, no driver-side graph.

    Near-dup clusters have tiny diameters (pairs come from shared LSH
    buckets), so this terminates in a handful of rounds even at 100 TB
    — the per-round cost is bounded by |edges|, never |nodes|².

    Returns (doc, cluster) where ``cluster`` is the component's minimum
    node id — the canonical-document convention of dedup pipelines.
    Only nodes that appear in ``edges`` are returned (singletons are
    their own cluster trivially).
    """
    # node ids keep their native type: min-label propagation only needs
    # an ordering, which strings have too. A cast("long") here would
    # turn string doc ids (e.g. statement-store entity ids) into NULLs
    # and silently collapse every node into one meaningless cluster.
    und = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    und = und.union(und.select(F.col("v").alias("u"), F.col("u").alias("v")))
    # materialize the edge set once up front: it feeds every iteration.
    # persist + count instead of localCheckpoint (round-12, guide §2.4)
    # because InMemoryTableScan PRESERVES outputPartitioning while a
    # checkpointed LogicalRDD degrades to UnknownPartitioning (verified
    # on 4.1) — the prerequisite for the data-adaptive re-layout below.
    und = und.persist(StorageLevel.DISK_ONLY)
    n_edges = und.count()
    if n_edges >= CC_RELAYOUT_EDGES:
        # Large edge set ⇒ the label table is past the broadcast regime
        # and every iteration's edges⋈labels join becomes a sort-merge
        # join that would re-shuffle the WHOLE edge set per round. Pin
        # the join-key hash layout ONCE so the iterations move only the
        # label vector — per-round shuffle drops from O(|edges|) to
        # O(|labels|). Same data-adaptive pattern (and threshold) as
        # pagerank_fixed_point: below it the labels side broadcasts and
        # the edge layout is irrelevant, so the extra re-layout pass
        # would be pure cost at bench scale. Evidence:
        # plans/r12/cc_iteration_{before,after}.txt (4 exchanges/round
        # → 1, the fundamental groupBy).
        old = und
        und = und.repartition("u").persist(StorageLevel.DISK_ONLY)
        und.count()
        old.unpersist()
    labels = (
        und.select(F.col("u").alias("doc")).distinct().withColumn("label", F.col("doc"))
    )
    for _ in range(max_iterations):
        neighbor_min = (
            und.join(labels, und.u == labels.doc)
            .groupBy(F.col("v").alias("doc2"))
            .agg(F.min("label").alias("nlabel"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.doc == F.col("doc2"), "left")
            .select(
                "doc",
                F.least(F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))).alias(
                    "new_label"
                ),
                "label",
            )
        )
        # materialize AT the convergence probe (non-eager checkpoint,
        # round-13): the count consumes every partition, so the probe
        # job itself caches the iteration's labels — the join+window
        # work still executes exactly once per round, but the separate
        # eager materialization job (and its scheduling floor) is gone:
        # one job per round instead of two
        new_labels = new_labels.localCheckpoint(eager=False)
        changed = new_labels.filter(F.col("new_label") != F.col("label")).count()
        labels = new_labels.select("doc", F.col("new_label").alias("label"))
        if changed == 0:
            break
    # labels is checkpointed (materialized) by the last iteration, so
    # the pinned edge layout is no longer needed — release it rather
    # than letting converged edge sets accumulate in the block manager
    # across the queries of one session
    und.unpersist()
    return labels.select("doc", F.col("label").alias("cluster"))


def minhash_cluster_canonical(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_words: int = 3,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Near-dup clusters over the MinHash-LSH graph with the CC run at
    VALUE grain (round-7 sf100 fix). Composing
    ``connected_components(minhash_lsh_pairs(docs))`` is correct but
    builds the DOC-grain edge set first — under web-scale duplication
    that is quadratic in the copy count (2.5B clique edges at sf100,
    OOM at default heap), all of it redundant: identical-text docs are
    interchangeable in the graph (same shingles → same signatures →
    same collisions), which is exactly how the staged oracle
    (tools/staged_oracles.cluster_staged) already computes the answer.

    Here the label propagation runs over the VALUE-level verified
    edges (~|distinct| nodes at ANY replica scale, since the rep id is
    the min member the converged label IS the component's min doc id),
    then one expansion join attaches every member of each
    participating value. A value participates iff its shingle set is
    non-empty AND (it has a cross-value edge OR ≥ 2 copies — the
    copies form a clique). Output (doc, cluster) is row-identical to
    the composed form; only the edge grain changed.
    """
    grp, base, rep_pairs = _minhash_value_stage(
        docs, id_col, text_col, num_hashes, bands, shingle_words,
        jaccard_threshold,
    )
    comp = connected_components(rep_pairs, src="ra", dst="rb")
    edged = comp.select(F.col("doc").alias("rep"), "cluster")
    # multi-member values with no cross-value edge: their copies form a
    # clique, canonical = rep (= min member). Shingle non-emptiness is
    # enforced by the semi-join on base (empty token sets never pair).
    cliques = (
        grp.filter(F.size("members") > 1)
        .join(base.select(F.col("doc").alias("rep")), "rep", "left_semi")
        .join(edged.select("rep"), "rep", "left_anti")
        .select("rep", F.col("rep").alias("cluster"))
    )
    return (
        edged.unionByName(cliques)
        .join(grp.select("rep", "members"), "rep")
        .select(F.explode("members").alias("doc"), "cluster")
    )


def benchmark_overlap(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: for every corpus document, the count
    of distinct word ``n``-gram shingles it shares with each benchmark
    document (the standard eval-leakage check before training).

    Shingles travel as fixed-width md5 keys; candidates come from an
    equi-join on the shingle hash with the benchmark side broadcast
    (benchmark suites are small by nature — for a benchmark beyond
    broadcast size the same plan degrades to a shuffled hash join).
    Long shingles (n=8 default) make coincidental collisions
    negligible, so any match is a verbatim 8-word overlap.

    Returns (doc_id, bench_id, n_shared) — only contaminated pairs.
    """
    def shingled(df: DataFrame, alias: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(alias),
            F.explode(word_shingles(F.col(text_col), n)).alias("sh"),
        ).select(alias, F.md5(F.col("sh")).alias("h"))

    c = shingled(corpus, "doc_id")
    b = shingled(benchmark, "bench_id")
    # word_shingles is distinct per doc, so (doc, bench, h) is unique
    # and count(*) == count of distinct shared shingles
    return (
        c.join(F.broadcast(b), "h")
        .groupBy("doc_id", "bench_id")
        .agg(F.count("*").alias("n_shared"))
    )


def duplicate_chunks(
    docs: DataFrame,
    chunk_words: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Chunk-level exact dedup: split each document into consecutive
    non-overlapping ``chunk_words``-word chunks, hash each, and report
    chunks occurring more than once across the corpus — the
    passage-granularity dedup pass (boilerplate, license headers,
    syndicated paragraphs) that document-level hashing can't see.

    Only 32-byte md5 keys travel through the shuffle; the single
    groupBy on the chunk hash is the whole plan. Tokenization is bound
    once per row via the one-element-transform trick (see
    ``word_shingles``), so the text is split once, not once per chunk.

    Returns (chunk_hash, n_occurrences, n_docs) for duplicated chunks.
    """

    def chunks(toks):
        n_chunks = F.floor(F.size(toks) / chunk_words).cast("int")
        idx = F.sequence(F.lit(0), F.greatest(n_chunks - 1, F.lit(0)))
        ch = F.transform(
            idx,
            lambda i: F.md5(
                F.concat_ws(" ", F.slice(toks, i * chunk_words + 1, chunk_words))
            ),
        )
        return F.when(n_chunks > 0, ch).otherwise(F.array().cast("array<string>"))

    exploded = docs.select(
        F.col(id_col).alias("doc"),
        F.explode(F.transform(F.array(tokens(F.col(text_col))), chunks)[0]).alias("h"),
    )
    return (
        exploded.groupBy(F.col("h").alias("chunk_hash"))
        .agg(
            F.count("*").alias("n_occurrences"),
            F.count_distinct("doc").alias("n_docs"),
        )
        .filter(F.col("n_occurrences") > 1)
    )


def winnow_fingerprint_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 24,
    window: int = 8,
    min_shared: int = 3,
    max_doc_freq: int | str = 64,
    max_chars: int = 1200,
    use_md5: bool = True,
) -> DataFrame:
    """Cross-document repeated-substring detection via winnowing
    (Schleimer/Wilkerson/Aiken, the MOSS fingerprint scheme) — the
    blocking tier of exact-substring dedup ("Deduplicating Training
    Data" finds verbatim ≥50-char overlaps; winnowing guarantees any
    shared substring of length ≥ k+window-1 yields at least one shared
    fingerprint, so candidate generation never misses a long overlap).

    Pipeline (all JVM-side, no Python):
      1. k-char gram hashes per position — the portable md5→52-bit
         BIGINT map (char positions capped at ``max_chars`` so one
         pathological doc cannot explode a row — standard fingerprint
         budget);
      2. winnow: min hash per sliding window of ``window`` positions,
         computed ROW-LOCALLY as array expressions (transform /
         slice / array_min / array_distinct) — winnowing is
         per-document by construction, so no shuffle exists until the
         selected (doc, fp) grain. Density ~2/(window+1);
      3. stop-fingerprint guard: hashes appearing in more than
         ``max_doc_freq`` docs are boilerplate (license headers) and
         are dropped — this caps the self-join bucket size, the same
         role max_df plays in TF-IDF;

         **Duplication caveat**: the guard is calibrated for a natural
         corpus. On a REPLICA-HEAVY corpus (mirrors, crawls with exact
         copies) every fingerprint's doc frequency scales with the copy
         count, so a fixed threshold silently saturates and the result
         goes EMPTY by design (measured at the sf100 sweep: 1000×
         replication pushed every fp past 64). Pass
         ``max_doc_freq="auto"`` to scale the threshold by the corpus's
         estimated duplication: ``64 × ceil(eligible_docs /
         distinct_texts)`` — one extra count aggregate (a single scan,
         one driver row), integer-exact and portable so an oracle can
         state the same arithmetic. At duplication ≈ 1 auto is
         identical to the default;
      4. candidate pairs by fingerprint EQUI-join, scored by the
         number of distinct shared fingerprints.

    At 100 TB: steps 1–2 are pure map work; the only shuffles are the
    (doc, fp)-grain doc-frequency window and the bucket-bounded
    self-join — ~4× smaller rows than the original gram-grain shape
    (the sf100 sweep measured the old per-doc window shuffle alone at
    >55 GB zstd-compressed on one box; the row-local form removed it
    outright). All integer-exact — the DuckDB oracle states the
    identical pipeline. ``use_md5=False`` swaps the gram hash for
    ``xxhash64`` (cheaper per gram, same guarantee) — the default
    stays md5 only because the correctness oracle must compute
    identical hashes.
    """
    eligible = docs.filter(F.length(text_col) >= k).select(
        F.col(id_col).alias("doc"),
        F.substring(F.col(text_col), 1, max_chars).alias("t"),
    )
    if max_doc_freq == "auto":
        # duplication-aware guard (see docstring): ceil integer
        # division keeps the arithmetic exact in any engine. Counted
        # over the TRUNCATED text (the value fingerprints derive from).
        n, d = eligible.agg(
            F.count("*").alias("n"),
            F.countDistinct("t").alias("d"),
        ).collect()[0]
        max_doc_freq = 64 * ((int(n) + int(d) - 1) // max(int(d), 1))
    elif isinstance(max_doc_freq, str):
        raise ValueError(f"max_doc_freq must be an int or 'auto', got {max_doc_freq!r}")
    # Row-local winnowing (round-7 sf100 fix). The original shape
    # exploded grams to rows and computed the sliding min with a
    # per-doc WINDOW — which shuffles the GRAM-grain table (docs ×
    # ~1177 positions, each row carrying a 32-char hash) just to
    # group positions that already live together in the source row.
    # At sf100 that shuffle alone exceeded the box's disk (>55 GB
    # with zstd; ~350 GB raw) and bought nothing at any scale:
    # winnowing is per-document by construction, so the gram hashes,
    # sliding minima, and per-doc distinct all happen INSIDE the row
    # as array expressions — zero shuffle until the (doc, fp) grain.
    # Two projections so the hash array is computed once per row, not
    # once per window (lambda bodies don't share subexpressions).
    gram_hash = (
        (
            lambda p: F.conv(
                F.substring(F.md5(F.col("t").substr(p, F.lit(k))), 1, 13), 16, 10
            ).cast("long")
        )
        if use_md5
        else (lambda p: F.xxhash64(F.col("t").substr(p, F.lit(k))))
    )
    hashed = eligible.select(
        "doc",
        F.transform(
            F.sequence(F.lit(1), F.length("t") - (k - 1)), gram_hash
        ).alias("hs"),
    )
    # fingerprints are BIGINT (the repo's portable md5→52-bit map, not
    # the 32-char hex string): identical selection guarantee, and the
    # (doc, fp) shuffle that remains is ~4× smaller — at sf100 the
    # difference between fitting this box's disk and not. The oracle
    # states the same map (CAST('0x'||substr(md5(..),1,13) AS BIGINT)).
    fps = (
        hashed.select(
            "doc",
            F.explode(
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(1), F.size("hs")),
                        lambda i: F.array_min(F.slice("hs", i, window)),
                    )
                )
            ).alias("fp"),
        )
        # the fingerprint set feeds THREE consumers (the df guard, and
        # both sides of the self-join) — materialize ONCE (the
        # pagerank/pretrain repeated-subtree lesson; measured ~2× on
        # the gate). DISK_ONLY per SCALE.md §8 (data-sized).
        .localCheckpoint(eager=True, storageLevel=_DISK)
    )
    from pyspark.sql import Window as W
    # stop-fingerprint guard as a WINDOW over fp, not a groupBy+join:
    # fps is already distinct (doc, fp), so count(*) per fp IS the doc
    # frequency. The former aggregate-then-join-back shape let Catalyst
    # broadcast the post-aggregate side on a size estimate it cannot
    # make (caught at sf10: a 1 GB fingerprint list collected to the
    # driver); the window form has no join to mis-plan, and its fp
    # hash partitioning is REUSED by the self-join below — one shuffle
    # fewer at every scale.
    dfreq = W.partitionBy("fp")
    fps = (
        fps.withColumn("df", F.count("*").over(dfreq))
        .filter((F.col("df") > 1) & (F.col("df") <= max_doc_freq))
        .drop("df")
    )
    l, r = fps.alias("l"), fps.alias("r")
    return (
        l.join(r, (F.col("l.fp") == F.col("r.fp")) & (F.col("l.doc") < F.col("r.doc")))
        .groupBy(F.col("l.doc").alias("a"), F.col("r.doc").alias("b"))
        .agg(F.countDistinct("l.fp").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def semantic_dedup_pairs(
    vectors: DataFrame,
    centroids=None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    assigned: DataFrame | None = None,
    allow_quadratic: bool = False,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic near-duplicate pairs via
    k-means blocking — cluster the embedding space, then compare pairs
    only WITHIN a cluster. The insight is the same as every blocked
    dedup tier in this module: semantically-duplicate pairs are
    cosine-close, cosine-close vectors share a nearest centroid (for
    reasonable k), so an equi-join on the cell id finds them without an
    O(n²) cross join. Misses only pairs straddling a cell boundary —
    the recall/cost trade SemDeDup accepts by design.

    ``centroids`` come from :func:`~.similarity.kmeans_train`
    (full-corpus distributed Lloyd's) or a seeded sample; they are
    broadcast-size literals, so the assignment is a JVM-side argmin —
    no shuffle until the cell-local pair join. Keeper policy is the
    caller's; by convention the lower id (``a``) is kept.

    ``assigned`` short-circuits the assignment: a DataFrame already
    carrying ``centroid`` (e.g. a persisted IVF index, or a pipeline
    stage that assigned once and reuses it for dedup AND search) is
    used as-is instead of recomputing the argmin.

    Returns (a, b, cell, cosine) with a < b and cosine >= threshold.
    """
    from ftm_lakehouse_spark.functions.vectors import dot_product, l2_norm
    from ftm_lakehouse_spark.operators.similarity import ivf_assign

    par = vectors.sparkSession.sparkContext.defaultParallelism
    if assigned is None:
        assigned, _ = ivf_assign(
            vectors.select(id_col, vec_col), centroids=centroids,
            id_col=id_col, vec_col=vec_col,
        )
    base = assigned.select(
        F.col(id_col).alias("doc"),
        F.col(vec_col).alias("vec"),
        F.col("centroid").alias("cell"),
        l2_norm(F.col(vec_col)).alias("norm"),
    )
    # exact copies share a cell (the argmin assignment is a pure
    # function of the vector), so the first cell/norm of a group is its
    # only one
    grp = _value_groups(
        base, "vec", F.first("cell").alias("cell"), F.first("norm").alias("norm")
    )
    reps = grp.select("rep", "vec", "cell", "norm")
    # candidate generation moves only (rep, cell): the cell key has k
    # distinct values, so anything heavier through this join would both
    # skew and serialize. The cosine verify — the real compute, one
    # fold per distinct pair — happens AFTER re-hydration through the
    # high-cardinality id joins, which spread pairs across the cluster
    # regardless of k (the same narrow-candidates-then-hydrate shape as
    # embedding_near_dups / minhash_lsh_pairs).
    ids = reps.select(F.col("rep").alias("doc"), "cell")
    cand = (
        ids.alias("l")
        .join(
            ids.alias("r"),
            (F.col("l.cell") == F.col("r.cell"))
            & (F.col("l.doc") < F.col("r.doc")),
        )
        .select(
            F.col("l.doc").alias("ra"),
            F.col("r.doc").alias("rb"),
            F.col("l.cell").alias("cell"),
        )
        .repartition(par, "ra")
    )
    hydrated = cand.join(
        reps.select(F.col("rep").alias("ra"), F.col("vec").alias("va"), F.col("norm").alias("na")),
        "ra",
    ).join(
        reps.select(F.col("rep").alias("rb"), F.col("vec").alias("vb"), F.col("norm").alias("nb")),
        "rb",
    )
    cosine = dot_product(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    rep_pairs = (
        hydrated.select(
            "ra", "rb", "cell", F.round(cosine, 6).alias("cosine"),
            "na", "nb",
        )
        # zero-norm guard (see embedding_near_dups): 0/0 = NaN and both
        # engines order NaN above the threshold — exclude explicitly
        .filter((F.col("na") > 0) & (F.col("nb") > 0))
        .filter(F.col("cosine") >= threshold)
        .select("ra", "rb", "cell", "cosine")
    )
    # one self-cosine per duplicate group (≈1.0 up to the fold's
    # rounding — computed, not assumed, to stay bit-identical)
    self_cos = F.round(
        dot_product(F.col("vec"), F.col("vec")) / (F.col("norm") * F.col("norm")), 6
    )
    within = (
        grp.filter(F.size("members") > 1)
        # zero-norm guard (see embedding_near_dups)
        .filter(F.col("norm") > 0)
        .select("cell", "members", self_cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )
    return _expand_members(
        _with_members(rep_pairs, grp), within, ["cell", "cosine"],
        "semantic_dedup_pairs", allow_quadratic,
    )


def semantic_dedup_keep(
    vectors: DataFrame,
    centroids=None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    assigned: DataFrame | None = None,
    allow_quadratic: bool = False,
) -> DataFrame:
    """SemDeDup survivor set: drop the higher id of every within-cell
    near-dup pair (the keeper policy the pairs function leaves to the
    caller, applied). Returns ``vectors``' rows minus the purged ones
    — the corpus the embedding-curation pipeline quantizes."""
    pairs = semantic_dedup_pairs(
        vectors, centroids, id_col=id_col, vec_col=vec_col,
        threshold=threshold, assigned=assigned,
        allow_quadratic=allow_quadratic,
    )
    dups = pairs.select(F.col("b").alias(id_col)).distinct()
    return vectors.join(dups, id_col, "left_anti")
