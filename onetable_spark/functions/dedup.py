"""Deduplication operators: exact, n-gram Jaccard, MinHash-LSH, SimHash.

Shuffle-conscious design for 100 TB corpora (SURVEY §2.5 / §7-M6):

- **exact**: hash-groupBy on a 128-bit digest — the shuffle carries
  (digest, doc_id), never the document body.
- **n-gram Jaccard**: inverted-index candidate join (explode shingles,
  self-join on shingle id) — exact results, but only pairs sharing ≥1
  shingle are materialized, vs the O(n²) cross join a naive version needs.
  Shingles travel as 64-bit xxhash values, not strings.
- **MinHash-LSH**: banded signatures; candidate pairs only where a band
  collides, then exact-Jaccard verification. Tunable (num_hashes, bands)
  precision/recall; the signature build is one projection, the banding one
  explode + groupBy — two narrow shuffles total.
- **SimHash**: 64-bit signature via per-token hash bit voting; candidates
  from 16-bit chunk collisions (pigeonhole: hamming ≤ 3 ⇒ some chunk
  equal), verified with bit_count(xor).

Candidate generation, joins and verification are pure Column expressions.
The two *signature builds* (64 minhash mins / 64 simhash bit votes over a
hash array) are the one place a vectorized Arrow UDF beats the JVM: as
Column expressions they are 64 interpreted passes over every array (a
codegen-hostile expression tree); as a ``pandas_udf`` they are one numpy
broadcast per batch. Token/shingle hashing stays JVM-side (``xxhash64``) —
only the compact ``array<long>`` crosses the Arrow boundary, never text.
Equivalent JVM-expression forms are kept for small/ad-hoc use.
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from onetable_spark.functions.text import spread_if_narrow, tokens

# ngram_jaccard_pairs' persisted intermediates from the MOST RECENT call;
# the next call unpersists them so repeated calls in one session hold at
# most one call's cache footprint (see the cache-ownership note there).
_NGRAM_SCRATCH: list[DataFrame] = []

# simhash_near_dup_pairs' persisted intermediates (sig/gstat/groups) from
# the MOST RECENT call, released by the next call — same ownership contract
# as _NGRAM_SCRATCH above.
_SIMHASH_SCRATCH: list[DataFrame] = []

# minhash_lsh_dedup_pairs' self-built shingle table (only when the caller
# did not pass one), same ownership contract.
_MINHASH_SCRATCH: list[DataFrame] = []


@lru_cache(maxsize=None)
def _simhash_sig_udf():
    """Vectorized SimHash from a token-hash array: per 64-bit position,
    majority vote over the tokens' hash bits (strict majority sets the
    bit — identical semantics to ``simhash64_from``, bit-for-bit)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def sim(th: pd.Series) -> pd.Series:
        bitpos = np.arange(64, dtype=np.uint64)
        weights = np.uint64(1) << bitpos
        out = np.zeros(len(th), dtype=np.uint64)
        for i, arr in enumerate(th.to_numpy()):
            a = np.asarray(arr, dtype=np.int64).view(np.uint64)
            if a.size:
                ones = ((a[:, None] >> bitpos) & np.uint64(1)).sum(axis=0)
                out[i] = weights[ones * 2 > a.size].sum()
        return pd.Series(out.view(np.int64))

    return sim


@lru_cache(maxsize=None)
def _minhash_sig_udf(num_hashes: int, seed: int = 42):
    """Vectorized MinHash signature from a shingle-hash array: k universal
    hashes h_i(x) = a_i*x + b_i (mod 2^64, a_i odd) as one numpy outer
    product + row-min per document. Same family guarantees as the seeded-
    xxhash JVM form (any pairwise-independent family works for MinHash);
    candidates are exact-Jaccard-verified downstream either way."""
    from pyspark.sql.functions import pandas_udf

    rng = np.random.default_rng(seed)
    mult = (rng.integers(0, 2**62, num_hashes, dtype=np.uint64) << np.uint64(1)) | np.uint64(1)
    add = rng.integers(0, 2**63, num_hashes, dtype=np.uint64)
    empty_sig = np.full(num_hashes, 2**63 - 1, dtype=np.int64)

    @pandas_udf("array<long>")
    def sig(sh: pd.Series) -> pd.Series:
        res = [empty_sig] * len(sh)
        for i, arr in enumerate(sh.to_numpy()):
            x = np.asarray(arr, dtype=np.int64).view(np.uint64)
            if x.size:
                h = mult[:, None] * x[None, :] + add[:, None]  # uint64 wraps
                res[i] = h.min(axis=1).view(np.int64)
        return pd.Series(res)

    return sig


@lru_cache(maxsize=None)
def _band_bucket_udf(num_hashes: int, bands: int, seed: int = 42):
    """MinHash signature + LSH banding fused in one vectorized UDF: from a
    shingle-hash array straight to ``bands`` 64-bit bucket ids (band b's
    bucket = odd-multiplier mix of its rows_per_band signature mins).
    Fusing keeps the JVM expression tree tiny — banding as Column
    expressions needs bands × rows_per_band ``element_at`` calls whose
    planning/codegen cost rivals the actual compute at interactive scale.
    """
    from pyspark.sql.functions import pandas_udf

    rows_per_band = num_hashes // bands
    rng = np.random.default_rng(seed)
    mult = (rng.integers(0, 2**62, num_hashes, dtype=np.uint64) << np.uint64(1)) | np.uint64(1)
    add = rng.integers(0, 2**63, num_hashes, dtype=np.uint64)
    bmix = (rng.integers(0, 2**62, num_hashes, dtype=np.uint64) << np.uint64(1)) | np.uint64(1)
    empty = np.full(num_hashes, 2**63 - 1, dtype=np.uint64)

    @pandas_udf("array<long>")
    def buckets(sh: pd.Series) -> pd.Series:
        res = [None] * len(sh)
        for i, arr in enumerate(sh.to_numpy()):
            x = np.asarray(arr, dtype=np.int64).view(np.uint64)
            sig = empty
            if x.size:
                sig = (mult[:, None] * x[None, :] + add[:, None]).min(axis=1)
            res[i] = (sig * bmix).reshape(bands, rows_per_band).sum(axis=1).view(np.int64)
        return pd.Series(res)

    return buckets


@lru_cache(maxsize=None)
def _gram_hash_col(th: str | Column, n: int) -> Column:
    """n-gram shingle hashes from a token-hash array, as a pure Column
    expression: gram hash = ``xxhash64(th[i], …, th[i+n-1])`` over a
    sliding window — JVM-side, whole-stage-codegen'd, no Arrow crossing
    (measured ~10× the throughput of the previous vectorized-numpy UDF at
    sf0.1 once worker spin-up is counted). ``th`` must be a plain column
    reference (an attribute), NOT a computed array expression: a computed
    subexpression inlined into the transform lambda is re-evaluated per
    element — the O(n²) trap ``text.winnow_fingerprint_rows`` documents.
    Distinct token n-grams map to distinct hashes w.h.p. (64-bit), so
    shingle-set cardinalities — and therefore exact Jaccard values —
    match the string-shingle formulation."""
    c = F.col(th) if isinstance(th, str) else th
    n_grams = F.size(c) - (n - 1)
    grams = F.transform(
        F.sequence(F.lit(1), n_grams),
        lambda i: F.xxhash64(*[F.element_at(c, (i + j).cast("int")) for j in range(n)]),
    )
    # sequence(1, m) with m < 1 counts DOWN — guard short docs to empty
    return F.when(n_grams >= 1, F.array_distinct(grams)).otherwise(
        F.array().cast("array<long>")
    )


# ------------------------------------------------------------------- exact


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id representative per exact content group."""
    return (
        df.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


# ------------------------------------------------------------------ shingles


def shingles(col: str | Column = "text", n: int = 3) -> Column:
    """Word n-gram shingle set (distinct), as strings.

    NOTE: as a bare Column expression this re-tokenizes per gram offset;
    use ``shingle_hash_df`` in pipelines — it materializes the token array
    behind an exchange so tokenization happens exactly once per row."""
    toks = tokens(col)
    idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(0)))
    gram = F.transform(
        idx,
        lambda i: F.concat_ws(" ", *[F.element_at(tokens(col), (i + k).cast("int")) for k in range(n)]),
    )
    return F.array_distinct(gram)


def token_hash_df(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, th: array<long>) — ordered per-token xxhash64 values, one text
    pass, JVM-side. The common ancestor of the shingle table (sliding-
    window gram combine) and the SimHash signature (bit voting): pipelines
    running both persist THIS table and share the corpus scan.
    ``spread_if_narrow`` spreads single-file parquet sources across all
    cores before the downstream hash work — and skips the shuffle when a
    multi-file corpus scan already arrives at full width."""
    return spread_if_narrow(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_text"))
    ).select("id", F.transform(tokens("_text"), lambda t: F.xxhash64(t)).alias("th"))


def shingle_hash_df(
    df: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    th: DataFrame | None = None,
) -> DataFrame:
    """(id, sh: array<long>) — distinct 64-bit shingle hashes per document.

    Tokenize + per-token xxhash64 JVM-side (one pass over the text), then
    the sliding-window gram combine is ALSO a pure Column expression
    (``_gram_hash_col``) — the whole shingle table is one codegen'd
    projection, nothing ever crosses to Python. Pass a prebuilt ``th``
    (``token_hash_df``) to share the tokenize+hash scan with other
    consumers."""
    if th is None:
        th = token_hash_df(df, text_col, id_col)
    return th.select("id", _gram_hash_col("th", n).alias("sh"))


def _shingle_hashes(col: str | Column = "text", n: int = 3) -> Column:
    """Shingle set as 64-bit hashes — joins/aggregations carry longs."""
    return F.array_distinct(F.transform(shingles(col, n), lambda s: F.xxhash64(s)))


# ----------------------------------------------------- exact n-gram Jaccard


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.4,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    sh: DataFrame | None = None,
    heavy_df: int = 1024,
) -> DataFrame:
    """All document pairs with n-gram Jaccard ≥ threshold — **exact**.

    Count-based inverted-index plan: because each document's shingle set
    is DISTINCT, the shared-shingle co-occurrence count is the exact
    intersection size and ``J = ov / (sz_a + sz_b − ov)`` — no shingle
    array ever joins or shuffles again after the one explode. Two regimes,
    chosen by the data (one scalar probe):

    - **No hot shingles** (every document frequency ≤ ``heavy_df``): one
      self-join of the shared-occurrence table on the shingle, groupBy
      pair → exact overlap. Cost is Σ df² over shingles ≤ heavy_df·|occ|
      — linear in the corpus for a fixed cap. (This replaces the previous
      PPJoin array-verification step, which re-shuffled every candidate
      pair's full shingle arrays: 8× slower at sf0.1 for identical
      output.)
    - **Hot shingles present** (boilerplate/templates, the df > heavy_df
      tail): the quadratic self-join is restricted to the ≤ heavy_df
      tier, and pair coverage comes from PPJoin prefix filtering (exact
      by the prefix-filtering theorem: order shingles by global rarity,
      index the first ``|A| − ⌈t·|A|⌉ + 1`` — two sets with J ≥ t MUST
      share a prefix shingle; hot shingles fall OUT of prefixes, so the
      stop-shingle m² blowup cannot happen). Each candidate's overlap =
      light-tier co-occurrence count + an array-intersect over the SMALL
      per-doc hot-shingle sets (few distinct hot shingles exist by
      definition of hot).
    """
    from pyspark import StorageLevel
    from pyspark.sql import Window

    # Cache ownership: the persisted intermediates below are referenced by
    # the RETURNED (lazy) plan, so they cannot be unpersisted here. Instead
    # each call releases the previous call's scratch, bounding a session to
    # ONE call's footprint instead of accumulating per call (ADVICE r5).
    # Unpersist is recompute-safe, so even an interleaved concurrent call
    # only loses cache hits, never correctness.
    while _NGRAM_SCRATCH:
        _NGRAM_SCRATCH.pop().unpersist()
    if sh is None:
        sh = shingle_hash_df(df, n, text_col, id_col).persist(StorageLevel.MEMORY_AND_DISK)
        _NGRAM_SCRATCH.append(sh)
    tok = sh.select("id", F.size("sh").alias("sz"), F.explode("sh").alias("g"))
    # df ≥ 2 only: a globally-unique shingle matches nobody — the shared-
    # occurrence table is orders of magnitude smaller than the full explode
    # in a mostly-unique corpus. Persisted because the regime probe below
    # materializes it anyway — the main pipeline then reuses it instead of
    # re-running the explode+groupBy (two narrow columns, tiny footprint).
    dfreq = (
        tok.groupBy("g")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= 2)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    _NGRAM_SCRATCH.append(dfreq)
    shared = tok.join(dfreq, "g")
    light = shared.filter(F.col("df") <= heavy_df)
    la, lb = light.alias("la"), light.alias("lb")
    ov_light = (
        la.join(lb, (F.col("la.g") == F.col("lb.g")) & (F.col("la.id") < F.col("lb.id")))
        .groupBy(
            F.col("la.id").alias("id_a"),
            F.col("lb.id").alias("id_b"),
            F.col("la.sz").alias("sz_a"),
            F.col("lb.sz").alias("sz_b"),
        )
        .agg(F.count(F.lit(1)).alias("ov"))
    )
    # driver-ok: one-scalar existence probe picks the plan regime
    has_heavy = dfreq.filter(F.col("df") > heavy_df).limit(1).count() > 0
    if not has_heavy:
        return (
            ov_light.withColumn(
                "jaccard",
                F.round(F.col("ov") / (F.col("sz_a") + F.col("sz_b") - F.col("ov")), 4),
            )
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard")
        )

    # hot-shingle regime: prefix-filtered candidates carry coverage.
    # In the rarity-ascending global order every df=1 shingle sorts BEFORE
    # every shared one, so a shared shingle's overall prefix rank
    # decomposes as (sz − n_sh) unique shingles ahead + its rank among the
    # doc's shared shingles — both windows run over the small shared table
    w = Window.partitionBy("id").orderBy(F.asc("df"), F.asc("g"))
    wcnt = Window.partitionBy("id")
    prefix_len = F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1
    prefix = (
        shared.withColumn("rk_sh", F.row_number().over(w))
        .withColumn("n_sh", F.count(F.lit(1)).over(wcnt))
        .filter((F.col("sz") - F.col("n_sh") + F.col("rk_sh")) <= prefix_len)
        .select("id", "g")
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    sizes = sh.select("id", F.size("sh").alias("sz"))
    hv = (
        shared.filter(F.col("df") > heavy_df)
        .groupBy("id")
        .agg(F.array_sort(F.collect_set("g")).alias("hv"))
    )
    enriched = (
        cand.join(ov_light.select("id_a", "id_b", "ov"), ["id_a", "id_b"], "left")
        .join(sizes.withColumnsRenamed({"id": "id_a", "sz": "sz_a"}), "id_a")
        .join(sizes.withColumnsRenamed({"id": "id_b", "sz": "sz_b"}), "id_b")
        .join(hv.withColumnsRenamed({"id": "id_a", "hv": "hv_a"}), "id_a", "left")
        .join(hv.withColumnsRenamed({"id": "id_b", "hv": "hv_b"}), "id_b", "left")
        .withColumn(
            "ov_all",
            F.coalesce(F.col("ov"), F.lit(0))
            + F.size(
                F.array_intersect(
                    F.coalesce(F.col("hv_a"), F.array().cast("array<long>")),
                    F.coalesce(F.col("hv_b"), F.array().cast("array<long>")),
                )
            ),
        )
    )
    return (
        enriched.withColumn(
            "jaccard",
            F.round(F.col("ov_all") / (F.col("sz_a") + F.col("sz_b") - F.col("ov_all")), 4),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ------------------------------------------------- bounded bucket collects


def _bounded_members(
    df: DataFrame, keys: list[str], payload: str, salt_on: Column, cap: int
) -> DataFrame:
    """``groupBy(keys).collect_list(payload)`` with a hard per-array bound.

    The naive collect builds one array per group in ONE task — a
    pathological hot group (a template cluster spanning millions of docs
    landing in one LSH bucket) materializes a multi-GB array in a single
    row. Here groups larger than ``cap`` are hash-split into
    ``ceil(n/cap)`` salted sub-groups, and the group's MINIMUM payload is
    added to every sub-group as an anchor, so members split across
    sub-groups can still connect THROUGH the anchor. The trade,
    documented here because it is irreversible: pair-level recall INSIDE
    an oversized group drops from all-pairs to star-through-anchor (+
    intra-sub-group pairs), and the anchor bridge only holds where the
    anchor itself passes the caller's downstream verification (exact
    Jaccard / hamming). That covers the case that actually produces hot
    groups — a near-identical template cluster, where the anchor matches
    everyone — but a heterogeneous oversized bucket can lose
    cross-sub-group pairs whose members don't both verify against the
    anchor. Groups at or under ``cap`` — every group in a
    non-adversarial corpus — are untouched.

    Result arrays are bounded by ``cap + 1`` in expectation (hash salting
    is uniform); singleton groups are dropped (no pairs to make).
    """
    stats = (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("_n"), F.min(payload).alias("_anchor"))
        .filter(F.col("_n") > 1)
    )
    nsub = F.greatest(F.ceil(F.col("_n") / cap), F.lit(1)).cast("long")
    # r16 (VERDICT r15 #3): the anchor rows used to be a THIRD leg — a
    # second stats aggregation over df, exploded and unioned back — so the
    # input was scanned three times (stats, members, anchors) and the plan
    # carried two extra stages. Carrying _n/_anchor through the join lets
    # the anchor's own membership row emit ALL sub-group slots itself
    # (members of ≤cap groups emit just their one hash slot), which is the
    # same result set: the anchor lands exactly once in every sub-group.
    # Assumes payload values are unique within a group — true for both
    # callers (one row per id per band; one row per distinct sig per
    # chunk); duplicated payloads would only add duplicate anchor copies,
    # which the pair-generating consumers de-duplicate anyway. Skew
    # behavior is unchanged: stats stays a partial-aggregating groupBy,
    # the join streams, and per-array memory stays capped.
    slots = F.when(
        (F.col("_n") > cap) & (F.col(payload) == F.col("_anchor")),
        F.sequence(F.lit(0).cast("long"), nsub - 1),
    ).otherwise(F.array(F.pmod(F.xxhash64(salt_on), nsub)))
    return (
        df.join(stats, keys)
        .select(*keys, F.col(payload), F.explode(slots).alias("_salt"))
        .groupBy(*keys, "_salt")
        .agg(F.collect_list(payload).alias("mem"))
        .filter(F.size("mem") > 1)
        .drop("_salt")
    )


def bounded_members_split_stats(
    df: DataFrame, keys: list[str], cap: int
) -> DataFrame:
    """No-silent-caps counter for ``_bounded_members``: one row
    ``(groups_split, members_affected)`` quantifying how much of the
    input sits in groups over ``cap`` — i.e. where pair recall degrades
    from all-pairs to star-through-anchor. A 100 TB operator runs this
    over the same banded/bucketed input to see what the bound cost;
    ``groups_split = 0`` certifies the run was recall-exact."""
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("_n"))
        .agg(
            F.count(F.when(F.col("_n") > cap, 1)).cast("long").alias("groups_split"),
            F.coalesce(
                F.sum(F.when(F.col("_n") > cap, F.col("_n"))), F.lit(0)
            ).cast("long").alias("members_affected"),
        )
    )


# ------------------------------------------------------------- MinHash LSH


def minhash_signature_from(sh: Column, num_hashes: int = 64) -> Column:
    """MinHash signature from a materialized shingle-hash array column:
    k × array_min(transform(sh, xxhash64(g, seed))) expressions, all
    codegen'd over the stored array (no shingle recomputation)."""

    def seeded_min(i: int) -> Column:
        # closure (not a default arg): PySpark reads lambda arity, and a
        # 2-arg lambda would be called as (element, index)
        return F.array_min(F.transform(sh, lambda g: F.xxhash64(g, F.lit(i))))

    return F.array(*[seeded_min(i) for i in range(num_hashes)])


def minhash_signature(col: str | Column = "text", num_hashes: int = 64, n: int = 3) -> Column:
    """MinHash signature straight from text (convenience; pipelines should
    go through ``shingle_hash_df`` + ``minhash_signature_from``)."""
    return minhash_signature_from(_shingle_hashes(col, n), num_hashes)


def minhash_lsh_candidates(
    df: DataFrame,
    num_hashes: int = 64,
    bands: int = 16,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Candidate pairs whose signatures collide in ≥1 band."""
    sh = shingle_hash_df(df, n, text_col, id_col)
    return minhash_lsh_candidates_from(sh, num_hashes, bands)


def minhash_lsh_candidates_from(
    sh: DataFrame, num_hashes: int = 64, bands: int = 16, max_bucket: int = 1024
) -> DataFrame:
    """Candidates from a prebuilt (id, sh) shingle-hash table — lets the
    dedup pipeline share one (persisted) shingle scan between candidate
    generation and exact-Jaccard verification.

    Pairs are generated within each (band, bucket) via a bounded collect +
    double explode — one hash agg, no skew-prone sort-merge self-join, and
    ``max_bucket`` caps how many members any one task materializes (hot
    buckets split into anchored sub-buckets; see ``_bounded_members`` for
    the anchored recall trade)."""
    # signature + banding fused in one Arrow UDF (tiny JVM expression tree)
    banded = sh.select(
        "id", F.posexplode(_band_bucket_udf(num_hashes, bands)("sh")).alias("band", "bucket")
    )
    buckets = _bounded_members(banded, ["band", "bucket"], "id", F.col("id"), max_bucket)
    return (
        buckets.select(F.explode("mem").alias("id_a"), "mem")
        .select("id_a", F.explode("mem").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .distinct()
    )


def minhash_lsh_dedup_pairs(
    df: DataFrame,
    threshold: float = 0.4,
    num_hashes: int = 64,
    bands: int = 16,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: int = 1024,
    sh: DataFrame | None = None,
) -> DataFrame:
    """LSH candidates verified with exact Jaccard (no false positives;
    recall is the banding curve 1-(1-t^r)^b).

    The shingle table is built ONCE and persisted (memory-and-disk) — it
    feeds the signature/banding path and both sides of the verification
    join; without the persist each consumer would re-tokenize the corpus.
    At 100 TB this is the same play: materialize (id, shingle_hashes) —
    orders of magnitude smaller than the text — and reuse it. Callers
    running several dedup flavors over one corpus pass the table in via
    ``sh`` so it is built once for ALL of them (see queries.text._corpus_shingles)."""
    from pyspark import StorageLevel

    if sh is None:
        # self-built shingle table: released at the NEXT default-build call
        # (the _NGRAM_SCRATCH ownership pattern); caller-passed tables stay
        # caller-owned
        while _MINHASH_SCRATCH:
            _MINHASH_SCRATCH.pop().unpersist()
        sh = shingle_hash_df(df, n, text_col, id_col).persist(StorageLevel.MEMORY_AND_DISK)
        _MINHASH_SCRATCH.append(sh)
    cand = minhash_lsh_candidates_from(sh, num_hashes, bands, max_bucket)
    jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(F.array_union("sh_a", "sh_b"))
    return (
        cand.join(sh.withColumnsRenamed({"id": "id_a", "sh": "sh_a"}), "id_a")
        .join(sh.withColumnsRenamed({"id": "id_b", "sh": "sh_b"}), "id_b")
        .withColumn("jaccard", F.round(jac, 4))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ----------------------------------------------------------------- SimHash


def simhash64_from(hashed: Column) -> Column:
    """64-bit SimHash from a materialized token-hash array column: per bit
    position, sum(+1/-1) votes then take the sign bit. All JVM expressions.
    """

    def bit_vote(b: int) -> Column:
        return F.aggregate(
            hashed,
            F.lit(0),
            lambda acc, h: acc
            + F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, F.lit(1)).otherwise(F.lit(-1)),
        )

    bit_votes = [bit_vote(b) for b in range(64)]
    out = F.lit(0).cast("long")
    for b, vote in enumerate(bit_votes):
        out = out + F.when(vote > 0, F.lit(1).cast("long") * (2**b if b < 63 else -(2**63))).otherwise(
            F.lit(0).cast("long")
        )
    return out


def simhash64(col: str | Column = "text") -> Column:
    """SimHash straight from text (convenience; pipelines should
    materialize token hashes first — see ``simhash_near_dup_pairs``)."""
    return simhash64_from(F.transform(F.array_distinct(tokens(col)), lambda t: F.xxhash64(t)))


def simhash_near_dup_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: int = 1024,
    th: DataFrame | None = None,
) -> DataFrame:
    """Pairs with SimHash hamming distance ≤ max_hamming.

    Candidates via 16-bit chunk equality (pigeonhole: ≤3 differing bits of
    64 ⇒ at least one of 4 chunks identical), verified with
    bit_count(xor) — the candidate join shuffles only (chunk, id, sig).

    Skew bounds (both documented recall/shape trades, active only above
    ``max_bucket``): identical-signature groups larger than the cap emit
    STAR pairs (anchor=min id ↔ every member, hamming 0) instead of all
    m² pairs and are represented by their anchor in cross-sig candidate
    generation — connectivity-exact for that case, since every member is
    hamming-0 to the anchor. Chunk buckets holding more than
    ``max_bucket`` DISTINCT signatures split into anchored sub-buckets
    via ``_bounded_members``; there the anchor bridge is best-effort —
    two sigs in different sub-buckets whose only shared chunk was this
    bucket, and which are both > max_hamming from the anchor, lose their
    pair (see the ``_bounded_members`` docstring for the full recall
    statement).
    """
    from pyspark import StorageLevel

    # Cache ownership (the _NGRAM_SCRATCH pattern): sig/gstat/groups are
    # referenced by the RETURNED lazy plan, so each call releases the
    # PREVIOUS call's scratch instead — a session holds one call's
    # footprint, not one per call. Unpersist is recompute-safe.
    while _SIMHASH_SCRATCH:
        _SIMHASH_SCRATCH.pop().unpersist()
    if th is None:
        # single-file parquet sources open as 1-2 input splits; spread the
        # signature work across all cores before the Arrow UDF
        hashed = token_hash_df(df, text_col, id_col)
    else:
        hashed = th  # shared tokenize+hash scan (see token_hash_df)
    # distinct-of-hashes ≡ hashes-of-distinct-tokens as a first-occurrence
    # sequence (64-bit xxhash; a cross-token collision would merge votes
    # either way), so the shared ordered token-hash table serves both the
    # shingle path and this signature. sig feeds THREE consumers (group
    # stats, the small-group join, the oversized-group star) — persist the
    # tiny (id, long) table instead of recomputing the UDF per branch.
    sig = hashed.select(
        "id", _simhash_sig_udf()(F.array_distinct("th")).alias("sig")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    _SIMHASH_SCRATCH.append(sig)
    # CLUSTER COLLAPSE first: duplicate-heavy corpora produce many docs
    # with identical signatures; group them so the quadratic candidate
    # stage runs over DISTINCT signatures only, then expand id pairs at
    # the end. Intra-group pairs are hamming-0 by construction.
    gstat = sig.groupBy("sig").agg(
        F.count(F.lit(1)).alias("n"), F.min("id").alias("anchor")
    ).persist(StorageLevel.MEMORY_AND_DISK)  # 3 consumers: small / large_rep / star
    _SIMHASH_SCRATCH.append(gstat)
    small = (
        sig.join(gstat.filter(F.col("n") <= max_bucket).select("sig"), "sig")
        .groupBy("sig")
        .agg(F.sort_array(F.collect_list("id")).alias("ids"))
    )
    # oversized identical-sig groups: anchor-only representative (their
    # members reach cross-sig matches THROUGH the anchor + intra star)
    large_rep = gstat.filter(F.col("n") > max_bucket).select(
        "sig", F.array("anchor").alias("ids")
    )
    # groups feeds the 4-chunk explode AND the intra-pair expansion;
    # persist (distinct sigs + member lists — corpus-order-of-magnitude
    # smaller than the text) so the grouping shuffle runs once
    groups = small.unionByName(large_rep).persist(StorageLevel.MEMORY_AND_DISK)
    _SIMHASH_SCRATCH.append(groups)
    # Bucket distinct sigs by 16-bit chunk, then generate pairs WITHIN each
    # bucket via a bounded collect + double explode — one hash agg instead
    # of a sort-merge self-join (whose skewed keys — a hot chunk value
    # shared by a template cluster — would straggle). The hamming filter
    # runs before the distinct so dedup sees only surviving pairs.
    chunks = groups.select(
        F.struct("sig", "ids").alias("g"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftrightunsigned("sig", c * 16).bitwiseAND(F.lit(0xFFFF)).alias("val"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("cc"),
    )
    buckets = _bounded_members(chunks, ["cc"], "g", F.col("g.sig"), max_bucket)
    sig_pairs = (
        buckets.select(F.explode("mem").alias("a"), "mem")
        .select("a", F.explode("mem").alias("b"))
        .filter(F.col("a.sig") < F.col("b.sig"))
        .select(
            F.col("a.ids").alias("ids_a"),
            F.col("b.ids").alias("ids_b"),
            F.bit_count(F.col("a.sig").bitwiseXOR(F.col("b.sig"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    # expand: cross-group pairs (normalize id order) + intra-group pairs
    inter = (
        sig_pairs.select(F.explode("ids_a").alias("x"), "ids_b", "hamming")
        .select("x", F.explode("ids_b").alias("y"), "hamming")
        .select(
            F.least("x", "y").alias("id_a"), F.greatest("x", "y").alias("id_b"), "hamming"
        )
    )
    # derive from the persisted groups table (large_rep rows are size-1
    # anchor arrays, so the size>1 filter selects exactly the small groups)
    intra = (
        groups.filter(F.size("ids") > 1)
        .select(F.explode("ids").alias("id_a"), "ids")
        .select("id_a", F.explode("ids").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", F.lit(0))
    )
    # star pairs for oversized identical-sig groups: anchor ↔ member
    intra_star = (
        sig.join(gstat.filter(F.col("n") > max_bucket).select("sig", "anchor"), "sig")
        .filter(F.col("id") != F.col("anchor"))
        .select(
            F.least("id", "anchor").alias("id_a"),
            F.greatest("id", "anchor").alias("id_b"),
            F.lit(0).alias("hamming"),
        )
    )
    return inter.unionByName(intra).unionByName(intra_star)


def _large_star(cur: DataFrame) -> DataFrame:
    """Large-star round (Kiveris et al., "Connected Components in MapReduce
    and Beyond", alg. 2): per node u, connect every STRICTLY LARGER
    neighbor to min(Γ(u) ∪ {u}). One groupBy + one explode; high-degree
    nodes collapse toward their component minimum geometrically."""
    nbrs = cur.unionByName(cur.select(F.col("b").alias("a"), F.col("a").alias("b")))
    agg = nbrs.groupBy("a").agg(
        F.collect_set("b").alias("nb"), F.least(F.min("b"), F.first("a")).alias("m")
    )
    return (
        agg.select("a", "m", F.explode("nb").alias("v"))
        .filter(F.col("v") > F.col("a"))
        .select(F.col("v").alias("a"), F.col("m").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def _small_star(cur: DataFrame) -> DataFrame:
    """Small-star round (ibid., alg. 3): orient edges (larger → smaller),
    then per node u connect its smaller-or-equal neighbors to
    min(Γ(u) ∪ {u})."""
    oriented = cur.select(
        F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
    )
    agg = oriented.groupBy("a").agg(
        F.collect_set("b").alias("nb"), F.min("b").alias("m")
    )
    return (
        agg.select("a", "m", F.explode(F.array_union("nb", F.array("a"))).alias("v"))
        .filter(F.col("v") != F.col("m"))
        .select(F.col("v").alias("a"), F.col("m").alias("b"))
        .distinct()
    )


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 20,
    local_edge_threshold: int = 500_000,
) -> DataFrame:
    """Connected components over a pair graph → (node, component) with the
    component labeled by its MINIMUM node id.

    The last step of a dedup pipeline: near-dup PAIRS become CLUSTERS, and
    the minimum id is the canonical document kept per cluster.

    Hybrid plan, sized for both ends of the scale:

    - **Large graph** (edges > ``local_edge_threshold``): alternating
      large-star/small-star contraction rounds (Kiveris et al.,
      "Connected Components in MapReduce and Beyond") — each round is one
      groupBy + explode, components collapse toward their minimum in
      O(log n) rounds, and every round the edge set shrinks.
    - **Small graph**: exact union-find over the (contracted) edge list in
      one task's worth of memory. After near-dup candidate generation the
      pair graph is already orders of magnitude smaller than the corpus,
      and star rounds shrink it geometrically, so the finish sees a
      BOUNDED edge list — two longs per row, ≤ local_edge_threshold rows
      (≈8 MB at the default) — never the corpus. Contract-distributed /
      finish-local is the standard production shape (GraphX/GraphFrames
      do the same); the previous iterate-to-convergence-on-the-cluster
      form paid ~4 scheduled jobs per round to move kilobytes.
    """
    import pandas as pd

    cur = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # Star rounds preserve the graph's node set (a non-root node always
    # re-emerges as a spoke of some star), so whichever exit below runs,
    # every original node gets a label.
    n_edges = cur.count()  # driver-ok: size probe, one scalar
    for _ in range(max_iter):
        if n_edges <= local_edge_threshold:
            break
        # localCheckpoint (eager) truncates lineage per round — without it
        # the plan grows per iteration and Catalyst analysis goes quadratic
        nxt = _small_star(_large_star(cur)).localCheckpoint(eager=True)
        n_next = nxt.count()  # driver-ok: size probe, one scalar
        if n_next == n_edges and nxt.exceptAll(cur).limit(1).count() == 0:
            # fixed point: the graph IS a union of stars centered at each
            # component's minimum (Kiveris et al., thm. 1-2) — labels are
            # the edges themselves; no local finish needed at any size
            cur = nxt
            roots = cur.select(F.col("b").alias("node")).distinct().join(
                cur.select(F.col("a").alias("node")).distinct(), "node", "left_anti"
            )
            return cur.select(F.col("a").alias("node"), F.col("b").alias("component")).unionByName(
                roots.select("node", F.col("node").alias("component"))
            )
        cur, n_edges = nxt, n_next
    if n_edges > local_edge_threshold:
        # the loop exhausted max_iter without contracting below the local
        # threshold (or hitting a star fixed point) — refuse the unbounded
        # driver collect rather than silently materializing the edge list
        raise RuntimeError(
            f"connected_components: {n_edges} edges remain after {max_iter} "
            f"star rounds (> local_edge_threshold={local_edge_threshold}); "
            "raise max_iter (contraction is O(log n) rounds) or "
            "local_edge_threshold instead of collecting unbounded"
        )
    spark = edges.sparkSession
    # driver-ok: bounded — this finish only runs when the (contracted) edge
    # list is ≤ local_edge_threshold rows of two ids (≈8 MB default for
    # longs); the star rounds above contract any larger graph first, and
    # the max_iter guard above refuses the collect if they could not
    pdf = cur.toPandas()
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in zip(pdf["a"], pdf["b"]):
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by MIN so the root is always the component minimum
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    all_nodes = sorted({x for ab in zip(pdf["a"], pdf["b"]) for x in ab})
    local = pd.DataFrame({"node": all_nodes, "component": [find(n) for n in all_nodes]})
    # id-type-agnostic output: the node/component type follows the edge
    # column type (long doc ids, string keys, …)
    id_type = edges.schema[src].dataType
    out_schema = T.StructType(
        [T.StructField("node", id_type), T.StructField("component", id_type)]
    )
    if local.empty:
        from onetable_spark.session import local_rows_df

        return local_rows_df(spark, [], out_schema)
    return spark.createDataFrame(local, out_schema)
