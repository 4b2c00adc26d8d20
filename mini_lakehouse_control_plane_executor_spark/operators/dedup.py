"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design (the point of each operator at 100 TB):

- **exact**: one hash-shuffle on the fingerprint; no pair join at all.
- **n-gram Jaccard**: exact pairwise similarity — correct but quadratic
  in the worst case; used as the verifier AFTER a candidate generator.
- **MinHash+LSH**: the candidate generator. k md5-derived min-hashes per
  doc → b bands → a pair is a candidate iff it shares a band bucket.
  Each band is one groupBy-shuffle; the quadratic join happens only
  inside buckets (planted near-dups), never across the whole corpus.
- **SimHash**: 32-bit signature per doc via bitwise majority of token
  hashes; near-dup iff hamming ≤ r. Banding on signature bytes prunes
  candidates the same way.

All hashing derives from md5 (identical in Spark and DuckDB), so every
operator has a full SQL oracle — no RNG, no engine-specific hash.

Storage budget at scale: ``exploded_shingles`` persists the per-doc
shingle ARRAYS (MEMORY_AND_DISK) because both the signature build and
the candidate verifier consume them. That cache is O(corpus tokens) —
at 100 TB of text, roughly corpus-sized on executor local disk (memory
first, spilling per-partition). This is a deliberate trade, not an
oversight: the alternative is recomputing the shingle set per consumer,
and inside a collapsed generator chain that recompute is O(shingles²)
per doc (measured 16.8s vs 0.36s at sf0.1 — see ``exploded_shingles``).
Provision executor local disk for ~1× the text column's size when
running the MinHash/Jaccard pipelines at full scale, or split the
pipeline into two passes over a materialized shingle TABLE (a parquet
write) when local disk is the scarcer resource.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from mini_lakehouse_control_plane_executor_spark.operators.text import fingerprint, tokens

# MinHash defaults: 12 hashes in 4 bands of 3 → catches J≥0.8 with
# P ≈ 1-(1-0.8³)⁴ ≈ 0.95 while keeping the band shuffle cheap.
MINHASH_K = 12
MINHASH_BAND_ROWS = 3

# Carter-Wegman hash family modulus (2³¹−1, prime). The k min-hashes are
# h_i = (a + i·b) mod P with (a, b) drawn from ONE md5 of the shingle —
# one digest per shingle instead of k, and i·b stays < 2⁶³ for any sane k.
MINHASH_P = (1 << 31) - 1

# 64-bit fingerprints in 4 x 16-bit chunks (the Manku et al. 2007
# near-duplicate geometry): random non-dup pairs collide on a chunk with
# probability ~4·2⁻¹⁶ vs the old 32-bit/8-bit scheme's ~4·2⁻⁸ — 256x
# less candidate volume on huge non-duplicate corpora for the same
# exact hamming<=3 pigeonhole guarantee. Represented as TWO 32-bit
# halves (two longs) so every value stays non-negative in both Spark
# and DuckDB — a true 64-bit signature would need the sign bit.
SIMHASH_BITS = 64
SIMHASH_BANDS = 4  # 16-bit chunks → candidates share ≥1 chunk
SIMHASH_HALF_BITS = 32


def ngrams_from_tokens(toks: Column, n: int = 2) -> Column:
    """Word n-grams WITH multiplicity (term-frequency semantics) from a
    materialized token-array column — the counting twin of
    ``shingles_from_tokens`` (which dedups per doc for doc-frequency
    semantics). Same phase-separation contract: pass a column attribute,
    never an inline ``tokens(text)`` expression."""
    idx = F.sequence(F.lit(1), F.size(toks) - (n - 1))
    gram = lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(n)])
    return F.when(F.size(toks) >= n, F.transform(idx, gram)).otherwise(
        F.array().cast("array<string>")
    )


def shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles from a MATERIALIZED token-array
    column: sliding window via sequence + element_at → distinct.

    ``toks`` must be a column attribute, not an inline ``tokens(text)``
    expression: higher-order lambdas are interpreted (no codegen CSE), so
    an inlined tokenizer would re-run regexp_extract_all for every
    element_at — O(tokens) regex passes per row. Phase-separated
    projections keep it to one (CollapseProject declines to merge
    projections that would duplicate non-cheap expressions)."""
    idx = F.sequence(F.lit(1), F.size(toks) - (n - 1))
    gram = lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(n)])
    return F.when(
        F.size(toks) >= n, F.array_distinct(F.transform(idx, gram))
    ).otherwise(F.array().cast("array<string>"))


def word_shingles(col: Column, n: int = 3) -> Column:
    """Shingles straight from a text column — only safe where the result
    is the projection's single use of the text (see shingles_from_tokens
    for the hot path)."""
    return shingles_from_tokens(tokens(col), n)


def shingle_arrays(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(doc_id, sh) persisted per-doc DISTINCT-shingle arrays — the
    shared materialization under ``exploded_shingles``. Exposed so
    consumers that need per-doc shingle COUNTS (array size) can read
    them map-side from the stored attribute instead of re-aggregating
    the exploded corpus stream.

    The shingle ARRAYS are materialized (cached) before any explode:
    Generate's input must be a stored attribute, because Catalyst
    collapses a projected HOF chain into the generator and re-evaluates
    it per EMITTED row — O(shingles²) per doc (measured 16.8s vs 0.36s
    for the explode at sf0.1). A cache is the one boundary
    projection-collapse cannot cross; a repartition is not (the
    optimizer re-orders the projection around the exchange).

    The raw docs are repartitioned up to the cluster's parallelism
    before tokenization (never down — a 100 TB scan keeps its
    thousands of splits): text compresses ~10x in parquet, so a
    CPU-heavy tokenize+shingle pass over a small-file table can
    otherwise land on ONE input split and run single-core (3.2x
    measured at sf0.1, one 600KB file). The explicit partition count
    keeps AQE from coalescing the tiny-by-bytes exchange back to one
    partition; the shuffle moves only raw text once, amortized by the
    persist.

    Cache lifecycle: the persist is deliberately NOT paired with an
    unpersist — the returned table is shared across an unknown set of
    downstream consumers inside one query pipeline, and the pipeline's
    result DataFrame is lazily collected by the caller AFTER this
    function returns, so there is no safe in-function release point.
    MEMORY_AND_DISK makes eviction safe (LRU spills, never recompute
    errors). Long-lived sessions running many pipelines should call
    ``queries.release_cached_intermediates(spark)`` (equivalently
    ``spark.catalog.clearCache()``) between pipelines, which is what
    bench.py does between queries."""
    sc = df.sparkSession.sparkContext
    n_parts = max(df.rdd.getNumPartitions(), sc.defaultParallelism)
    return (
        df.repartition(n_parts, F.col(id_col))
        .select(F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("toks"))
        .select("doc_id", shingles_from_tokens(F.col("toks"), n).alias("sh"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )


def exploded_shingles(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    arrays: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, s) shingle rows from the persisted array table (see
    ``shingle_arrays`` for the materialization/repartition rationale).
    Pass ``arrays`` to share one materialization across consumers."""
    arr = arrays if arrays is not None else shingle_arrays(df, id_col, text_col, n)
    return arr.select("doc_id", F.explode("sh").alias("s"))


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Group by content fingerprint; keep the min-id representative.
    Returns (fp, n_copies, keep_id) — one shuffle, no join."""
    return (
        df.select(F.col(id_col).alias("doc_id"), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("doc_id").alias("keep_id"),
        )
    )


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """The deduplicated corpus: one representative row per fingerprint
    (min id wins), via a single window-free groupBy+semi-join."""
    keep = exact_duplicates(df, id_col, text_col).select(F.col("keep_id").alias(id_col))
    return df.join(keep, on=id_col, how="left_semi")


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact pairwise)
# ---------------------------------------------------------------------------


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    candidates: DataFrame | None = None,
    shingles: DataFrame | None = None,
    arrays: DataFrame | None = None,
) -> DataFrame:
    """Pairs (id1 < id2) with shingle-Jaccard ≥ threshold.

    Without ``candidates`` this is the exact quadratic algorithm (shingle
    self-join); with a candidate pair DataFrame (id1, id2) the join is
    restricted to those pairs — the LSH-pruned path. ``shingles`` lets a
    caller that already materialized the (doc_id, s) exploded-shingle
    table (e.g. the MinHash pipeline) hand it in so the corpus is
    tokenized once, not once per stage; ``arrays`` additionally hands in
    the persisted per-doc shingle ARRAY table so |A| and |B| are read
    map-side from the stored array size instead of re-aggregating the
    exploded corpus stream (the union-size shuffle disappears).
    """
    # The shingle table feeds sizes plus both sides of the intersection
    # join; persist it so the explode runs once per pipeline (the shingle
    # ARRAYS are additionally cached inside shingle_arrays — see its
    # docstring for why that boundary is load-bearing).
    ex = shingles if shingles is not None else exploded_shingles(
        df, id_col, text_col, n
    ).persist(StorageLevel.MEMORY_AND_DISK)
    if arrays is not None:
        sizes = arrays.filter(F.size("sh") > 0).select(
            "doc_id", F.size("sh").cast("long").alias("n_sh")
        )
    else:
        sizes = ex.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))

    if candidates is not None and arrays is not None:
        # Candidate-driven intersection over the persisted shingle
        # ARRAYS: two id-keyed joins pull each side's array, then
        # |A∩B| is a map-side ``array_intersect`` — no per-shingle
        # fan-out and no (id2, s) re-shuffle of the corpus stream.
        # Arrays are distinct-shingle sets, so the intersect size
        # equals the exploded equi-join count exactly.
        a1 = arrays.select(F.col("doc_id").alias("id1"), F.col("sh").alias("sh1"))
        a2 = arrays.select(F.col("doc_id").alias("id2"), F.col("sh").alias("sh2"))
        inter = (
            candidates.join(a1, "id1")
            .join(a2, "id2")
            .select(
                "id1",
                "id2",
                F.size(F.array_intersect("sh1", "sh2")).cast("long").alias("c"),
            )
        )
    elif candidates is not None:
        # Candidate-driven intersection: fan each candidate pair out over
        # id1's shingles, then equi-join on (id2, shingle). Work is
        # O(|candidates| · shingles-per-doc) — the whole point of LSH —
        # instead of the corpus-wide quadratic shingle self-join below.
        ex1 = ex.select(F.col("doc_id").alias("id1"), "s")
        ex2 = ex.select(F.col("doc_id").alias("id2"), "s")
        inter = (
            candidates.join(ex1, "id1")
            .join(ex2, ["id2", "s"])
            .groupBy("id1", "id2")
            .agg(F.count(F.lit(1)).alias("c"))
        )
    else:
        a = ex.alias("a")
        b = ex.alias("b")
        inter = (
            a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("id1"), F.col("b.doc_id").alias("id2"))
            .groupBy("id1", "id2")
            .agg(F.count(F.lit(1)).alias("c"))
        )

    s1 = sizes.select(F.col("doc_id").alias("id1"), F.col("n_sh").alias("n1"))
    s2 = sizes.select(F.col("doc_id").alias("id2"), F.col("n_sh").alias("n2"))
    return (
        inter.join(s1, "id1")
        .join(s2, "id2")
        .select(
            "id1",
            "id2",
            F.round(F.col("c") / (F.col("n1") + F.col("n2") - F.col("c")), 4).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold_num: int = 9,
    threshold_den: int = 10,
    min_shingles: int = 5,
) -> DataFrame:
    """Asymmetric shingle-containment pairs: C(A→B) = |A∩B| / |A| ≥
    threshold (num/den, exact integer arithmetic in both engines) —
    the subset-inclusion duplicates (a doc quoted or embedded inside a
    bigger one) that symmetric Jaccard and MinHash-LSH structurally
    miss (resemblance of a small doc inside a big one is low, and
    minhash collision probability tracks resemblance).

    Blocking is PREFIX FILTERING (the PPJoin/set-similarity-join
    discipline): if B misses at most (1-t)·|A| of A's shingles, then
    among any floor((1-t)·|A|)+1 of them at least one IS in B — so A
    joins B's full shingle stream only through A's prefix in a global
    canonical order. The order is ASCENDING DOCUMENT FREQUENCY (ties
    md5, then shingle) — PPJoin's key insight: prefixes then hold A's
    RAREST shingles, so common boilerplate shingles never block
    (measured 2.1x fewer candidates than md5-only order at sf0.1).
    The blocking join also applies the containment LENGTH filter
    (|B| ≥ t·|A| — B cannot contain 90%% of a bigger A) before the
    distinct. Verify is candidate-restricted against the persisted
    shingle ARRAYS (map-side ``array_intersect``), never the exploded
    stream. At scale: one vocab-sized DF aggregate, the blocking join
    streams ~(1-t) of the corpus's shingles on the contained side, and
    nothing is ever all-pairs. Docs with < ``min_shingles`` shingles
    are excluded (containment over a handful of shingles is noise).

    Duplicate-skew guard (the ``lsh_candidates`` discipline, keyed on
    the distinct-shingle SET): d docs with identical shingle sets —
    exact duplicates foremost — collide on every prefix shingle, a d²
    blowup of the blocking join. The prefix machinery runs over one
    min-id representative per distinct set; PPJoin completeness holds
    under ANY fixed global order, so ordering by rep-level document
    frequency changes only the candidate count, never the verified
    output. Qualifying DIRECTED rep pairs expand to member pairs
    linearly; same-set members emit both directions at containment 1.0
    (what the member-level algorithm produces for identical sets).
    Row-for-row equivalence pinned in tests/test_operator_invariants.py.
    """
    arr = shingle_arrays(df, id_col, text_col, n)
    # NARROW collapse: the set key is md5 over the SORTED distinct-
    # shingle array, computed map-side — the window then shuffles only
    # (doc_id, key, n_sh) rows, never the array payload (keying the
    # window on the array itself re-shuffled the whole corpus's shingle
    # sets and cost +35% at sf1 with zero duplicates — measured and
    # rejected).
    k = arr.select(
        "doc_id",
        F.md5(F.concat_ws("\x1f", F.array_sort("sh"))).alias("skey"),
        F.size("sh").alias("nsh"),
    )
    wg = Window.partitionBy("skey")
    vm = k.select(
        "doc_id",
        "nsh",
        F.min("doc_id").over(wg).alias("rep"),
        F.count(F.lit(1)).over(wg).alias("gsize"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # Rep-filter the exploded stream ONCE, before BOTH consumers (the
    # document-frequency aggregate and the rank pass): the member-level
    # stream is duplicate-multiplicity times larger than the rep-level
    # one, and persisting/aggregating it paid d x cache and d x shuffle
    # on exactly the duplicate-heavy corpora the rep collapse exists
    # for. The doc_id join shuffle this adds is the partitioning the
    # rank window needs anyway, and the document frequency it yields is
    # genuinely REP-level — the order the PPJoin docstring promises
    # (completeness holds under ANY fixed global order, so only the
    # candidate count can change, never the verified output).
    # The candidate pipeline carries a 128-bit FINGERPRINT of each
    # shingle (md5 halves via unhex — the ExactSubstr r13 discipline),
    # never the raw shingle string (r15): the df aggregate, the rank
    # window's sort key, the prefix join key and the window-rank
    # re-exchange all ship 16 fixed bytes instead of a ~30-byte string,
    # and the rank sort no longer BUILDS an md5 hex string per
    # comparison — at 100 TB these are the corpus-sized exchanges of
    # this query. The global prefix order (dfr, fp) is byte-identical
    # to the former (dfr, md5-hex, s): hex encoding is monotonic in the
    # digest bytes, and the trailing raw-string tiebreak only ever
    # distinguished md5-colliding shingles. PPJoin completeness needs a
    # fixed TOTAL order, so totality now rests on md5 injectivity over
    # the corpus shingle set (the 2^-120-scale ExactSubstr argument).
    # Verification against the raw arrays keeps a collision from ever
    # EMITTING a false pair, but not from losing a true one: two
    # shingles sharing a fingerprint share a df count and a rank, which
    # shifts the prefix positions the PPJoin positional filter bounds
    # with, so a pair that would verify can be filtered out before
    # verification — a completeness cost, not just a spurious
    # candidate. The DuckDB oracle keeps raw-string semantics
    # end-to-end as the collision canary.
    ex = (
        exploded_shingles(df, id_col, text_col, n, arrays=arr)
        .join(vm.filter(F.col("doc_id") == F.col("rep")).select("doc_id"), "doc_id")
        .select("doc_id", F.unhex(F.md5("s")).alias("s"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    dfreq = ex.groupBy("s").agg(F.count(F.lit(1)).alias("dfr"))
    w = Window.partitionBy("doc_id")
    wo = w.orderBy("dfr", "s")
    # ONE window pass yields both the global-order rank and |doc|;
    # persisted because the prefix AND the container side read it.
    ranked = (
        ex.join(dfreq, "s")
        .withColumn("rn", F.row_number().over(wo))
        .withColumn("n_sh", F.count(F.lit(1)).over(w))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    miss = F.expr(f"n_sh * {threshold_den - threshold_num} div {threshold_den}")
    pref = ranked.filter(
        (F.col("n_sh") >= min_shingles) & (F.col("rn") <= miss + 1)
    ).select(
        F.col("doc_id").alias("a_id"),
        "s",
        F.col("n_sh").alias("na"),
        F.col("rn").alias("ra"),
    )
    bside = ranked.select(
        F.col("doc_id").alias("b_id"),
        "s",
        F.col("n_sh").alias("nb"),
        F.col("rn").alias("rb"),
    )
    # PPJoin POSITIONAL filter (r15; Xiao et al., WWW 2008 §3.2): a
    # prefix match at ranks (ra, rb) bounds the achievable overlap at
    # 1 + min(na - ra, nb - rb) — the c-1 other common shingles all
    # rank AFTER it on both sides — so a match that cannot reach
    # o_min = ceil(na·t) can never verify and is dropped BEFORE the
    # distinct + verify joins. Complete by the first-common-shingle
    # argument: for any truly-containing pair, its first common
    # shingle in the global order lies in A's prefix (pigeonhole, as
    # above) and every common shingle ranks at or after it on both
    # sides, so THAT match row satisfies the bound and the pair
    # survives. Output rows are untouched — only never-verifiable
    # candidates die earlier (measured r15 at sf1: distinct candidates
    # 811k -> far fewer feeding the 3-stage ~42s-CPU verify tail).
    o_min = F.expr(
        f"(na * {threshold_num} + {threshold_den - 1}) div {threshold_den}"
    )
    cand = (
        pref.join(bside, ["s"])
        .filter(
            (F.col("a_id") != F.col("b_id"))
            & (F.col("nb") * threshold_den >= F.col("na") * threshold_num)
            & (
                1 + F.least(F.col("na") - F.col("ra"), F.col("nb") - F.col("rb"))
                >= o_min
            )
        )
        .select("a_id", "b_id", "na")
        .distinct()
    )
    # Verify on the persisted shingle ARRAYS, not the exploded stream:
    # two joins keyed on the candidate ids pull each side's array once,
    # then |A∩B| is a map-side ``array_intersect`` — no per-shingle
    # fan-out and no (b_id, s) re-shuffle of the corpus stream. The
    # arrays are distinct-shingle sets, so the intersect size equals the
    # exploded equi-join count exactly (measured 2.5x faster at sf0.1:
    # 0.64s vs 1.63s for the exploded verify). Verification runs at REP
    # level — containment is a function of the two sets, and candidate
    # ids are rep ids, so the id-keyed array joins touch rep rows only —
    # and the verified value expands with the member pairs.
    a_arr = arr.select(F.col("doc_id").alias("a_id"), F.col("sh").alias("a_sh"))
    b_arr = arr.select(F.col("doc_id").alias("b_id"), F.col("sh").alias("b_sh"))
    rep_out = (
        cand.join(a_arr, "a_id")
        .join(b_arr, "b_id")
        .withColumn("c", F.size(F.array_intersect("a_sh", "b_sh")).cast("long"))
        .filter(F.col("c") * threshold_den >= F.col("na") * threshold_num)
        .select("a_id", "b_id", F.round(F.col("c") / F.col("na"), 4).alias("cont"))
    )
    # ONE expansion pass for both pair kinds: same-set duplicate groups
    # enter as rep-level SELF pairs at containment 1.0 (identical sets
    # contain each other; the member-level algorithm emits both directed
    # rows), and the ma != mb guard — a no-op for true cross pairs,
    # whose member sets are disjoint — drops only the degenerate
    # self-member row of self pairs.
    self_pairs = vm.filter(
        (F.col("doc_id") == F.col("rep"))
        & (F.col("gsize") >= 2)
        & (F.col("nsh") >= min_shingles)
    ).select(
        F.col("doc_id").alias("a_id"),
        F.col("doc_id").alias("b_id"),
        F.lit(1.0).alias("cont"),
    )
    mem = vm.select("rep", "doc_id")
    return (
        rep_out.unionByName(self_pairs)
        .join(
            mem.select(F.col("rep").alias("a_id"), F.col("doc_id").alias("ma")), "a_id"
        )
        .join(
            mem.select(F.col("rep").alias("b_id"), F.col("doc_id").alias("mb")), "b_id"
        )
        .filter(F.col("ma") != F.col("mb"))
        .select(
            F.col("ma").alias("contained_id"),
            F.col("mb").alias("container_id"),
            F.col("cont").alias("containment"),
        )
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    k: int = MINHASH_K,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """k min-hashes per doc via a Carter-Wegman family over ONE md5 per
    shingle: (a, b) = the two 60-bit halves of md5(shingle) reduced mod
    P=2³¹−1, then h_i = (a + i·b) mod P. One digest per shingle row (vs k
    for the naive md5(s‖i) scheme); DuckDB computes identical values —
    fully oracle-checkable."""
    ex = shingles if shingles is not None else exploded_shingles(df, id_col, text_col, n)
    h = F.md5(F.col("s"))
    a = F.conv(F.substring(h, 1, 15), 16, 10).cast("long") % MINHASH_P
    b = F.conv(F.substring(h, 16, 15), 16, 10).cast("long") % MINHASH_P
    return ex.groupBy("doc_id").agg(
        *[F.min((a + F.lit(i) * b) % MINHASH_P).alias(f"h{i}") for i in range(k)]
    )


def ab_structs(sh: Column) -> Column:
    """Per-element (a, b) Carter-Wegman coefficients from ONE md5 —
    the same arithmetic as ``minhash_signatures`` (and the streaming
    twin ``streaming.neardup._ab_structs``), exposed as an array
    expression so signatures can be computed MAP-SIDE from a stored
    per-doc element array: one digest per element however many hash
    functions read it."""
    return F.transform(
        sh,
        lambda s: F.struct(
            (F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long") % MINHASH_P).alias("a"),
            (F.conv(F.substring(F.md5(s), 16, 15), 16, 10).cast("long") % MINHASH_P).alias("b"),
        ),
    )


def minhash_signatures_from_arrays(
    arrays: DataFrame, k: int = MINHASH_K, ab_col: str = "ab"
) -> DataFrame:
    """k min-hashes per doc computed MAP-SIDE from a stored
    array<struct<a,b>> column (``ab_structs`` over the per-doc element
    array) — bit-identical to ``minhash_signatures``'s
    groupBy-min over the exploded stream (same Carter-Wegman family,
    same min), with ZERO shuffle: h_i = array_min over the stored
    coefficients. The caller persists the arrays table (it also feeds
    candidate verification), which is the phase boundary that keeps the
    k transforms reading the stored attribute instead of inlining k
    md5 passes.

    Rows whose element array is empty MUST be filtered out upstream
    (array_min of an empty array is NULL, and k NULL signature columns
    would collapse every empty doc into one 'identical signature'
    group in the lsh_candidates duplicate guard — the exploded groupBy
    form simply has no row for them)."""
    return arrays.select(
        "doc_id",
        *[
            F.array_min(
                F.transform(
                    F.col(ab_col),
                    lambda x: (x["a"] + F.lit(i) * x["b"]) % MINHASH_P,
                )
            ).alias(f"h{i}")
            for i in range(k)
        ],
    )


def band_keys(
    sigs: DataFrame,
    k: int = MINHASH_K,
    band_rows: int = MINHASH_BAND_ROWS,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Persisted (doc_id, [extra_cols...,] band, bk) banded-signature
    table — posexplode of a precomputed key array, materialized ONCE so
    every consumer (symmetric self-join, asymmetric new-vs-old join)
    reads the same cached rows instead of re-deriving the signature
    pipeline per side. ``extra_cols`` ride along so weighted consumers
    avoid a re-join against the signature source."""
    n_bands = k // band_rows
    keys = F.array(
        *[
            F.concat_ws(
                "|", *[F.col(f"h{i}") for i in range(b * band_rows, (b + 1) * band_rows)]
            )
            for b in range(n_bands)
        ]
    )
    return sigs.select(
        "doc_id", *extra_cols, F.posexplode(keys).alias("band", "bk")
    ).persist(StorageLevel.MEMORY_AND_DISK)


def lsh_candidates(
    sigs: DataFrame, k: int = MINHASH_K, band_rows: int = MINHASH_BAND_ROWS
) -> DataFrame:
    """Candidate pairs = docs sharing any band key. The signature table
    is exploded into (doc_id, band, band_key) rows (``band_keys``) and
    candidates come from ONE equi-self-join on (band, band_key) instead
    of one join per band, so the signature pipeline is evaluated once
    per side, not once per band per side.

    Duplicate-skew guard (the ``collapse_identical`` discipline of
    operators/similarity.py, applied at the SIGNATURE level): the band
    self-join costs Σ|bucket|², and d docs with identical signatures —
    exact-duplicate texts foremost, 30-50% of a raw crawl — land every
    copy in every band bucket, a d² blowup. One window keyed on the k
    signature columns elects a min-id representative per distinct
    signature; the band join runs over representatives only, cross-group
    candidates expand to member pairs through two linear joins, and
    same-signature members are emitted as candidates directly (identical
    signatures collide in EVERY band by definition). Exactly the
    member-level candidate set — pinned row-for-row on duplicate-heavy
    input in tests/test_operator_invariants.py. The remaining shuffle
    key is the band hash over DISTINCT signatures: skew is bounded by
    true near-dup cluster size, not duplicate multiplicity."""
    hcols = [f"h{i}" for i in range(k)]
    w = Window.partitionBy(*hcols)
    vm = sigs.select(
        "doc_id",
        *hcols,
        F.min("doc_id").over(w).alias("rep"),
        F.count(F.lit(1)).over(w).alias("gsize"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    reps = vm.filter(F.col("doc_id") == F.col("rep")).select("doc_id", *hcols)
    bands = band_keys(reps, k, band_rows)
    l = bands.alias("l")
    r = bands.alias("r")
    rep_cands = (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bk") == F.col("r.bk"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(F.col("l.doc_id").alias("id1"), F.col("r.doc_id").alias("id2"))
        .distinct()
    )
    # ONE expansion pass for both pair kinds (the containment_pairs
    # self-pair trick, saving the separate same-group self-join):
    # same-signature groups enter as rep-level SELF pairs; after the
    # member joins the (id1 != id2) | (m1 < m2) filter keeps every
    # cross-group expansion (members of distinct groups are distinct
    # docs) and exactly one orientation of each same-group member pair,
    # and least/greatest canonicalizes both kinds.
    self_reps = vm.filter(
        (F.col("doc_id") == F.col("rep")) & (F.col("gsize") >= 2)
    ).select(F.col("doc_id").alias("id1"), F.col("doc_id").alias("id2"))
    mem = vm.select("rep", "doc_id")
    return (
        rep_cands.unionByName(self_reps)
        .join(
            mem.select(F.col("rep").alias("id1"), F.col("doc_id").alias("m1")), "id1"
        )
        .join(
            mem.select(F.col("rep").alias("id2"), F.col("doc_id").alias("m2")), "id2"
        )
        .filter((F.col("id1") != F.col("id2")) | (F.col("m1") < F.col("m2")))
        .select(
            F.least("m1", "m2").alias("id1"), F.greatest("m1", "m2").alias("id2")
        )
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    k: int = MINHASH_K,
    band_rows: int = MINHASH_BAND_ROWS,
) -> DataFrame:
    """Full MinHash-LSH pipeline: signatures → banded candidates → exact
    Jaccard verification of candidates only. The exploded shingle table
    is materialized ONCE and shared by signature generation and Jaccard
    verification — at cluster scale that's one corpus tokenization pass,
    not two — and per-doc shingle sizes are read map-side from the
    shared array table (no union-size re-aggregation of the stream)."""
    arr = shingle_arrays(df, id_col, text_col, n)
    ex = exploded_shingles(df, id_col, text_col, n, arrays=arr).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    sigs = minhash_signatures(df, id_col, text_col, n, k, shingles=ex)
    cands = lsh_candidates(sigs, k, band_rows)
    return jaccard_pairs(
        df, id_col, text_col, n, threshold, candidates=cands, shingles=ex, arrays=arr
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def _feature_hash60(feat: Column) -> Column:
    """60-bit integer hash of a feature string from the first 15 md5 hex
    chars — representable in a signed 64-bit long in both engines."""
    return F.conv(F.substring(F.md5(feat), 1, 15), 16, 10).cast("long")


def _feature_hash60b(feat: Column) -> Column:
    """Independent second 60-bit hash from md5 hex chars 16-30 of the
    SAME digest (the minhash a/b split) — one md5 per feature feeds both
    32-bit signature halves."""
    return F.conv(F.substring(F.md5(feat), 16, 15), 16, 10).cast("long")


def simhash_from_hashes(hashes: Column, bits: int = SIMHASH_HALF_BITS) -> Column:
    """Bitwise-majority SimHash over a pre-computed array<long> of
    feature hashes: bit j of the signature is 1 iff more hashes have bit
    j set than unset. ``bits`` must stay <= 32 (one non-negative long
    half; the 64-bit fingerprint is two of these). Callers should
    materialize the hash array in its own projection first (one md5
    pass) — the 'bits' bit-count terms all
    reference that attribute instead of re-deriving md5 per bit."""
    if bits > 32:
        raise ValueError(
            f"simhash_from_hashes: bits={bits} > 32 — one half must stay a "
            "non-negative long (2^63 overflows); the 64-bit fingerprint is "
            "TWO 32-bit halves (see simhash_pairs)"
        )
    n_feat = F.size(hashes)
    out = F.lit(0).cast("long")
    for j in range(bits):
        ones = F.aggregate(
            hashes,
            F.lit(0),
            lambda acc, h: acc + F.shiftright(h, j).bitwiseAND(F.lit(1)).cast("int"),
        )
        out = out + F.when(ones * 2 > n_feat, F.lit(2**j).cast("long")).otherwise(F.lit(0))
    return out


def simhash(features: Column, bits: int = SIMHASH_HALF_BITS) -> Column:
    """32-bit-half SimHash of a feature array (array<string>). Features
    are typically word shingles (documents with a small shared
    vocabulary would make token-level SimHash degenerate). The full
    64-bit fingerprint is the (this, ``simhash_from_hashes`` over
    ``_feature_hash60b``) pair — see ``simhash_pairs``."""
    return simhash_from_hashes(F.transform(features, _feature_hash60), bits)


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    bits: int = SIMHASH_BITS,
    bands: int = SIMHASH_BANDS,
    shingle_n: int = 3,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ max_hamming over a
    64-bit fingerprint stored as two non-negative 32-bit halves
    (sha, shb) — the Manku et al. (2007) web-scale geometry.

    Banding: split the fingerprint into ``bands`` 16-bit chunks (two
    per half); by pigeonhole any pair with hamming ≤ bands-1 shares a
    chunk, so the join key is (band index, chunk value) — linear
    shuffle, no cross join — and with the default max_hamming=3 <
    bands=4 the result is EXACT, not approximate. 16-bit chunks put a
    random non-dup pair's chunk-collision probability at ~4·2⁻¹⁶
    (the old 8-bit chunking paid ~4·2⁻⁸ — Θ(n²/64) candidates on large
    non-duplicate corpora; this is 256x tighter for the same
    guarantee). Verification computes the true hamming distance as the
    sum of the two halves' bit_count(xor).

    Duplicate-skew guard (the ``lsh_candidates`` discipline, cheapest
    of the family since the collapse key is one pair of longs): d docs
    with an identical fingerprint — exact-duplicate texts foremost —
    land every copy in every chunk bucket, a d² blowup of the chunk
    self-join. A min-id representative is elected per distinct
    fingerprint, the chunk join runs over representatives, qualifying
    rep pairs expand to member pairs linearly, and same-fingerprint
    members emit directly at hamming 0. Exactly the member-level pair
    set (hamming is a function of the fingerprint alone); pinned on
    duplicate-heavy input in tests/test_operator_invariants.py."""
    half_bits = bits // 2
    # Two-phase projection: materialize the two md5-derived hash arrays
    # once (ONE digest feeds both halves), then the 2x32 per-bit
    # majority sums reference them as column attributes. The signature
    # table is persisted — it feeds both sides of the chunk join, and
    # the majority-vote expression is the expensive part.
    # Repartition UP to cluster parallelism before the CPU-heavy
    # majority folds (the shingle_arrays discipline — a small-file scan
    # otherwise pins the 2x32 per-bit votes to one core), and DROP
    # empty-shingle docs: a sub-shingle_n document has no features, its
    # majority vote is the all-zero fingerprint, and every such doc
    # would pair with every other at hamming 0 — quadratic FALSE pairs
    # from unrelated short texts. The MinHash path already drops them
    # (no exploded rows); this makes SimHash consistent.
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() < sc.defaultParallelism:
        df = df.repartition(sc.defaultParallelism)
    sigs = (
        df
        .select(F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("toks"))
        .select("doc_id", shingles_from_tokens(F.col("toks"), shingle_n).alias("shl"))
        .filter(F.size("shl") > 0)
        .select(
            "doc_id",
            F.transform(F.col("shl"), _feature_hash60).alias("hsa"),
            F.transform(F.col("shl"), _feature_hash60b).alias("hsb"),
        )
        .select(
            "doc_id",
            simhash_from_hashes(F.col("hsa"), half_bits).alias("sha"),
            simhash_from_hashes(F.col("hsb"), half_bits).alias("shb"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    return hamming_pairs_from_halves(
        sigs, max_hamming=max_hamming, bits=bits, bands=bands
    )


def hamming_pairs_from_halves(
    sigs: DataFrame,
    max_hamming: int = 3,
    bits: int = SIMHASH_BITS,
    bands: int = SIMHASH_BANDS,
) -> DataFrame:
    """The Manku banding + verify + duplicate-skew machinery of
    ``simhash_pairs``, factored over ANY 64-bit fingerprint stored as
    two non-negative 32-bit halves ``(doc_id, sha, shb)`` — text
    SimHash and image dHash/aHash share the identical pair geometry
    (pigeonhole: hamming ≤ bands-1 pairs share a 16-bit chunk; chunk
    equi-join; true-hamming verify; min-id representative election so
    d identical fingerprints cost d, not d²). See ``simhash_pairs``
    for the full scale rationale."""
    half_bits = bits // 2
    band_bits = bits // bands
    mask = (1 << band_bits) - 1
    chunks_per_half = half_bits // band_bits
    w = Window.partitionBy("sha", "shb")
    vm = (
        sigs.select(
            "doc_id",
            "sha",
            "shb",
            F.min("doc_id").over(w).alias("rep"),
            F.count(F.lit(1)).over(w).alias("gsize"),
        )
    ).persist(StorageLevel.MEMORY_AND_DISK)
    reps = vm.filter(F.col("doc_id") == F.col("rep")).select(
        "doc_id", "sha", "shb", "gsize"
    )
    chunk_arr = F.array(
        *[
            F.shiftright(F.col(h), b * band_bits).bitwiseAND(F.lit(mask))
            for h in ("sha", "shb")
            for b in range(chunks_per_half)
        ]
    )
    chunks = reps.select(
        "doc_id", "sha", "shb", F.posexplode(chunk_arr).alias("band", "ck")
    )
    l = chunks.alias("l")
    r = chunks.alias("r")
    cands = (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.ck") == F.col("r.ck"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("id1"),
            F.col("r.doc_id").alias("id2"),
            F.col("l.sha").alias("sha1"),
            F.col("l.shb").alias("shb1"),
            F.col("r.sha").alias("sha2"),
            F.col("r.shb").alias("shb2"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sha1").bitwiseXOR(F.col("sha2"))) + F.bit_count(
        F.col("shb1").bitwiseXOR(F.col("shb2"))
    )
    rep_pairs = cands.select(
        "id1", "id2", hamming.cast("int").alias("hamming")
    ).filter(F.col("hamming") <= max_hamming)
    # ONE expansion pass for both pair kinds (the lsh_candidates /
    # neardup_pairs self-pair fusion): same-signature groups enter as
    # rep-level self pairs at hamming 0 (the group key IS the SimHash
    # value, so members are signature-identical by construction); the
    # (id1 != id2) | (m1 < m2) filter keeps every cross-group expansion
    # and exactly one orientation of each same-group member pair. This
    # deletes the separate mem-by-mem self-join, whose inputs are both
    # corpus-sized member tables at scale.
    self_reps = reps.filter(F.col("gsize") >= 2).select(
        F.col("doc_id").alias("id1"),
        F.col("doc_id").alias("id2"),
        F.lit(0).cast("int").alias("hamming"),
    )
    mem = vm.select("rep", "doc_id")
    return (
        rep_pairs.unionByName(self_reps)
        .join(
            mem.select(F.col("rep").alias("id1"), F.col("doc_id").alias("m1")), "id1"
        )
        .join(
            mem.select(F.col("rep").alias("id2"), F.col("doc_id").alias("m2")), "id2"
        )
        .filter((F.col("id1") != F.col("id2")) | (F.col("m1") < F.col("m2")))
        .select(
            F.least("m1", "m2").alias("id1"),
            F.greatest("m1", "m2").alias("id2"),
            "hamming",
        )
    )


def connected_components(pairs: DataFrame, max_iters: int = 30) -> DataFrame:
    """Connected components over an undirected pair list (id1, id2) by
    min-label propagation WITH pointer doubling, iterated to a FIXPOINT:
    every node's label converges to the smallest id reachable from it.

    Each round does (a) edge propagation — pull the min root across every
    edge — and (b) pointer doubling — replace each node's root by its
    root's root. (a) alone needs ~diameter rounds; (b) halves the
    remaining pointer depth each round, so together they converge in
    O(log diameter) rounds (a 20-hop chain closes in ~5). The loop stops
    when a round changes zero labels (one cheap ``limit(1).count()`` on
    the already-checkpointed round result), so convergence is exact,
    not bounded by a guess; ``max_iters`` is a runaway backstop
    (2^30-diameter graphs don't arise from near-dup pair lists) and
    raises if ever hit rather than returning split clusters.

    Per iteration: two hash-joins + one min-aggregate — all shuffles on
    uniform ids; nothing quadratic, nothing collected."""
    # localCheckpoint (not persist): iterative reassignment otherwise
    # grows the LOGICAL plan exponentially — labels_n contains
    # labels_{n-1} twice (directly and via the propagation join), and
    # analysis cost doubles per round even when every input is cached.
    # Checkpointing resets the plan to the materialized partitions.
    dirs = (
        pairs.select(F.col("id1").alias("src"), F.col("id2").alias("dst"))
        .unionByName(
            pairs.select(F.col("id2").alias("src"), F.col("id1").alias("dst"))
        )
        .localCheckpoint()
    )
    labels = (
        dirs.select(F.col("src").alias("id")).distinct().withColumn("root", F.col("id"))
    ).localCheckpoint()
    for _ in range(max_iters):
        # (a) edge propagation: min root over incoming edges.
        prop = (
            dirs.join(labels, dirs.dst == labels.id)
            .groupBy("src")
            .agg(F.min("root").alias("nroot"))
        )
        cur = labels.join(prop, labels.id == prop.src, "left").select(
            labels.id,
            labels.root.alias("oroot"),
            F.least(labels.root, F.coalesce(F.col("nroot"), labels.root)).alias("root"),
        )
        # (b) pointer doubling: root <- label(root).
        hop = labels.select(F.col("id").alias("rid"), F.col("root").alias("rroot"))
        cur = (
            cur.join(hop, cur.root == hop.rid, "left")
            .select(
                cur.id,
                cur.oroot,
                F.least(
                    F.col("root"), F.coalesce(F.col("rroot"), F.col("root"))
                ).alias("root"),
            )
            .localCheckpoint()
        )
        changed = cur.filter(F.col("root") != F.col("oroot")).limit(1).count()
        # cur is already checkpointed; this is a zero-cost projection.
        labels = cur.select("id", "root")
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iters} rounds"
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints (map-only variant)
# ---------------------------------------------------------------------------

WINNOW_POS_MOD = 1 << 24
WINNOW_MAX_DF = 8


def winnowing_fingerprints_map(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """(doc_id, h) winnowing fingerprints (Schleimer et al. 2003 — the
    same selection as ``queries.winnowing_dup_pairs``: 4-gram 36-bit
    md5 hashes, w=4 window minimum, rightmost tie-break via the packed
    (hash·2²⁴ + reversed-position) integer MIN) computed ENTIRELY
    map-side: every window of a document's hash sequence lives inside
    that document's own row, so the per-start minima are array
    expressions (``array_min`` over ``slice``) — no posexplode, no
    doc-keyed window exchange. This is the streaming-safe form (stateless
    per-row transform; Structured Streaming forbids non-time windows)
    and is pinned row-identical to the window-based batch selection in
    tests/test_operator_invariants.py.

    The explode's input is a derived HOF array; at batch corpus scale
    prefer the query's persisted-window path (generator-input
    discipline) — per emitted row Catalyst re-evaluates the chain, which
    is acceptable here because the fingerprint array is ~2/(w+1) of the
    gram count, not a shingle corpus."""
    toks = F.expr(f"regexp_extract_all(lower({text_col}), '\\\\w+', 0)")
    grams = F.expr(
        "transform(slice(toks, 1, size(toks) - 3),"
        " (t, i) -> concat(t, ' ', element_at(toks, i + 2),"
        " ' ', element_at(toks, i + 3), ' ', element_at(toks, i + 4)))"
    )
    # The explicit BIGINT cast matches the batch twin: conv() returns a
    # STRING, and only ANSI mode coerces string*int to bigint — under
    # legacy coercion the product goes through DOUBLE, whose 53-bit
    # mantissa silently rounds the 60-bit packed value (h+1 at early
    # positions for high hashes), diverging the fingerprints from the
    # batch/oracle twins on a config flip.
    encs = F.expr(
        "transform(gs, (g, i) ->"
        " cast(conv(substring(md5(g), 1, 9), 16, 10) as bigint) * 16777216"
        f" + ({WINNOW_POS_MOD - 1} - (i + 1)))"
    )
    fps = F.expr(
        "array_distinct(transform("
        " sequence(1, greatest(size(encs) - 3, 1)),"
        f" s -> array_min(slice(encs, s, 4)) div {WINNOW_POS_MOD}))"
    )
    return (
        df.select(F.col(id_col).alias("doc_id"), toks.alias("toks"))
        .filter(F.size("toks") >= 4)
        .select("doc_id", grams.alias("gs"))
        .select("doc_id", encs.alias("encs"))
        .select("doc_id", fps.alias("fps"))
        .select("doc_id", F.explode("fps").alias("h"))
    )
