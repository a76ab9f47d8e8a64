"""Mergeable sketches (Apache DataSketches via Spark's built-in
functions): HLL distinct counts, KLL quantiles, Theta set algebra —
plus a portable distributed Bloom filter (the family's exact-superset
membership member).

The 100 TB distinct-counting posture: a corpus too large to re-scan per
question keeps PER-PARTITION sketches (per day, per shard, per source) —
a few KB each — and answers any coarser rollup by MERGING sketches
instead of touching the data again. Exact ``COUNT(DISTINCT)`` at that
scale is a full shuffle of every distinct value per question;
``approx_count_distinct`` is one-shot (its HLL++ buffer is not exposed
for reuse). The DataSketches functions make the sketch itself a column:
build once, union endlessly, estimate anywhere.

Accuracy: lg_k=12 → 4096 registers, relative standard error ≈ 1.6%
(bounds pinned in tests). Below a few hundred distinct values the sketch
is still in exact (coupon) mode and the estimate equals the true count —
the driver oracle exploits this to hash-match exact SQL on
small-cardinality columns; beyond it, error-bound property tests take
over.

Reference parity: the reference engine has no approximate layer (its
only audit is a row count, etl.js:253-259); this extends the E-*/A-*
families per the training-pipeline mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def distinct_sketches(
    df: DataFrame,
    keys: list[str],
    col: str,
    lg_k: int = 12,
    sketch_col: str = "hll",
) -> DataFrame:
    """Per-key HLL sketch of ``col``'s distinct values → ``(*keys,
    sketch_col binary)``. One shuffle on the keys, map-side partial
    sketches; values are sketched as strings so heterogeneous sources
    (long ids, labels) share one sketch family."""
    return df.groupBy(*keys).agg(
        F.hll_sketch_agg(F.col(col).cast("string"), F.lit(lg_k)).alias(sketch_col)
    )


def merge_sketches(
    df: DataFrame,
    keys: list[str],
    allow_different_lg_k: bool = False,
    sketch_col: str = "hll",
) -> DataFrame:
    """Roll sketches up to coarser ``keys`` (e.g. daily → all-time) by
    sketch union — never re-scans the underlying data. Empty ``keys``
    gives the single global sketch. Mixed-precision inputs are rejected
    unless ``allow_different_lg_k`` (union degrades to the coarsest)."""
    agg = F.hll_union_agg(
        F.col(sketch_col), F.lit(allow_different_lg_k)
    ).alias(sketch_col)
    return df.groupBy(*keys).agg(agg) if keys else df.agg(agg)


def with_estimate(
    df: DataFrame,
    sketch_col: str = "hll",
    out_col: str = "n_distinct_est",
    drop_sketch: bool = True,
) -> DataFrame:
    """Attach the rounded distinct-count estimate (long)."""
    out = df.withColumn(
        out_col, F.round(F.hll_sketch_estimate(sketch_col)).cast("long")
    )
    return out.drop(sketch_col) if drop_sketch else out


def quantile_sketches(
    df: DataFrame,
    keys: list[str],
    col: str,
    k: int = 800,
    sketch_col: str = "kll",
) -> DataFrame:
    """Per-key KLL quantile sketch of a LONG column — the mergeable
    percentile companion to the HLL family: build per key, read
    quantiles with :func:`with_quantiles`. Exact
    ``percentile`` needs a per-key sort; ``approx_percentile`` is
    one-shot. Normalized rank error at k=800 ≈ 0.6% (pinned in tests)."""
    return df.groupBy(*keys).agg(
        F.kll_sketch_agg_bigint(F.col(col), F.lit(k)).alias(sketch_col)
    )


def with_quantiles(
    df: DataFrame,
    probs: list[float],
    sketch_col: str = "kll",
    prefix: str = "p",
    drop_sketch: bool = True,
) -> DataFrame:
    """Attach one LONG column per requested quantile (``p50``, ``p99``…)."""
    out = df.select(
        "*",
        *[
            F.kll_sketch_get_quantile_bigint(F.col(sketch_col), F.lit(p)).alias(
                f"{prefix}{int(p * 100)}"
            )
            for p in probs
        ],
    )
    return out.drop(sketch_col) if drop_sketch else out


def freq_sketches(
    df: DataFrame,
    keys: list[str],
    col: str,
    max_items: int = 10_000,
    sketch_col: str = "fi",
) -> DataFrame:
    """Per-key frequent-items sketch of ``col`` (Spark 4's
    ``approx_top_k_accumulate`` state) → ``(*keys, sketch_col struct)``.

    The mergeable heavy-hitters companion to the HLL/KLL/Theta family:
    build per shard/day, union across partitions with
    :func:`merge_freq_sketches`, read the top-k anywhere with
    :func:`top_items` — never re-scan the data per question. Exact
    ``GROUP BY … ORDER BY count`` at corpus scale shuffles every distinct
    value per question; the sketch shuffles ``max_items`` entries per key.
    While the tracked-item budget exceeds the true distinct count the
    counts are EXACT (the driver oracle exploits this on
    low-cardinality columns); past it, heavy hitters dominate the survivor
    set — the skew regime is pinned in tests/test_sketches.py."""
    return df.groupBy(*keys).agg(
        F.expr(f"approx_top_k_accumulate({col}, {int(max_items)})").alias(sketch_col)
    )


def merge_freq_sketches(
    df: DataFrame,
    keys: list[str],
    max_items: int = 10_000,
    sketch_col: str = "fi",
) -> DataFrame:
    """Roll frequent-items sketches up to coarser ``keys`` (daily →
    all-time) by sketch combine — no re-scan. Empty ``keys`` gives the
    single global sketch."""
    agg = F.expr(f"approx_top_k_combine({sketch_col}, {int(max_items)})").alias(
        sketch_col
    )
    return df.groupBy(*keys).agg(agg) if keys else df.agg(agg)


def top_items(
    df: DataFrame,
    k: int = 10,
    sketch_col: str = "fi",
    item_col: str = "item",
    count_col: str = "n_est",
) -> DataFrame:
    """Explode each sketch row into its estimated top-``k``
    ``(item, count)`` rows (most-frequent first). Keys carry through;
    the sketch column is dropped."""
    est = F.expr(f"approx_top_k_estimate({sketch_col}, {int(k)})")
    return (
        df.withColumn("_top", est)
        .drop(sketch_col)
        .select("*", F.explode("_top").alias("_t"))
        .drop("_top")
        .select(
            "*",
            F.col("_t.item").alias(item_col),
            F.col("_t.count").alias(count_col),
        )
        .drop("_t")
    )


def threshold_filter(
    df: DataFrame,
    col: str,
    keep_frac: float,
    keys: list[str] | None = None,
    k: int = 65535,
) -> DataFrame:
    """Keep the top ``keep_frac`` of rows by LONG column ``col`` — the
    scale path for score-based data selection (DSIR / LM-quality gates):
    a KLL sketch of the score distribution yields the cut threshold, so
    selection costs one aggregate + a broadcast attach + a filter, never
    a global sort or per-row rank. With ``keys``, thresholds are
    per-group (each stratum keeps its own top fraction).

    The threshold is the ``1 - keep_frac`` quantile under the KLL
    INCLUSIVE rank rule (smallest value whose ≤-rank fraction ≥ p); rows
    STRICTLY ABOVE it survive — the quantile row itself is the last of
    the bottom ``1 - keep_frac``, so with distinct values the kept set
    is exactly the true top fraction, and ties at the cut drop together
    (kept count ≤ ``keep_frac * n``; relax by lowering ``keep_frac``'s
    complement if tie-inclusion is wanted). While ``k`` exceeds the
    (per-group) row count the sketch is exact (the oracle regime); past
    it, the cut drifts by KLL's ~0.6% rank error at k=800 — pinned in
    tests/test_sketches.py.
    """
    p = 1.0 - keep_frac
    keys = keys or []
    thr = F.kll_sketch_get_quantile_bigint(F.col("_kll"), F.lit(p)).alias("_thr")
    sk = quantile_sketches(df, keys, col, k=k, sketch_col="_kll").select(*keys, thr)
    joined = (
        df.join(F.broadcast(sk), keys) if keys else df.crossJoin(F.broadcast(sk))
    )
    return joined.where(F.col(col) > F.col("_thr")).drop("_thr")


def theta_sketches(
    df: DataFrame,
    keys: list[str],
    col: str,
    sketch_col: str = "theta",
) -> DataFrame:
    """Per-key Theta sketch of ``col``'s distinct values. Theta sketches
    support SET ALGEBRA — union, intersection, difference — so questions
    like "how many distinct users do segments A and B share" or "how
    much of corpus A's vocabulary is absent from B" are sketch-side
    operations, not joins over the raw data. Below ~4k distinct values
    the sketch retains every hash and set estimates are exact (the
    driver oracle exploits this); beyond, relative error ≈ 1/sqrt(k)."""
    return df.groupBy(*keys).agg(
        F.theta_sketch_agg(F.col(col).cast("string")).alias(sketch_col)
    )


def contamination_estimate(
    docs: DataFrame,
    eval_docs: DataFrame,
    text_col: str = "text",
    ngram: int = 8,
) -> DataFrame:
    """Sketch-side estimate of corpus↔eval n-gram contamination — the
    cheap scout run before ``corpus.decontaminate``'s exact semi-join.

    One row: ``n_corpus_grams, n_eval_grams, n_shared_grams,
    eval_containment`` (the fraction of the eval set's distinct
    ``ngram``-grams that occur anywhere in the corpus — the number a
    decontamination decision actually needs). Each side is ONE pass:
    explode distinct-per-doc shingles → global Theta sketch; the overlap
    is a sketch intersection, so corpus and eval are never joined. At
    benchmark-sized eval sets the eval sketch is exact; the corpus side
    is a Theta estimate (~1/sqrt(4096) relative error past retention).

    Uses the same shingle normalization as ``corpus.decontaminate`` so
    the estimate predicts what the exact pass will find (parity pinned
    in tests/test_sketches.py).
    """
    from .dedup import shingles

    def _sketch(df_: DataFrame) -> DataFrame:
        grams = df_.select(
            F.explode(F.array_distinct(shingles(F.col(text_col), n=ngram))).alias("g")
        )
        return grams.agg(F.theta_sketch_agg("g").alias("th"))

    c, e = _sketch(docs).alias("c"), _sketch(eval_docs).alias("e")
    inter = F.theta_sketch_estimate(
        F.theta_intersection(F.col("c.th"), F.col("e.th"))
    )
    n_eval = F.theta_sketch_estimate(F.col("e.th"))
    return c.crossJoin(e).select(
        F.round(F.theta_sketch_estimate(F.col("c.th"))).cast("long").alias("n_corpus_grams"),
        F.round(n_eval).cast("long").alias("n_eval_grams"),
        F.round(inter).cast("long").alias("n_shared_grams"),
        (inter / n_eval).alias("eval_containment"),
    )


def pairwise_overlap(
    sketches: DataFrame,
    key_col: str,
    sketch_col: str = "theta",
    out_col: str = "n_shared",
) -> DataFrame:
    """Distinct-overlap estimate for every unordered key pair:
    ``(key_a, key_b, n_shared)`` with ``key_a < key_b``. A sketch-side
    cross join over K per-key sketches (K² tiny rows), never a join over
    the underlying data."""
    a, b = sketches.alias("a"), sketches.alias("b")
    return (
        a.join(b, F.col(f"a.{key_col}") < F.col(f"b.{key_col}"))
        .select(
            F.col(f"a.{key_col}").alias("key_a"),
            F.col(f"b.{key_col}").alias("key_b"),
            F.round(
                F.theta_sketch_estimate(
                    F.theta_intersection(F.col(f"a.{sketch_col}"), F.col(f"b.{sketch_col}"))
                )
            ).cast("long").alias(out_col),
        )
    )


# ---------------------------------------------------------------------------
# Bloom filters — no-false-negative membership sketches
# ---------------------------------------------------------------------------
#
# Representation: one ``array<long>`` column of ``m_bits / 32`` words, each
# word holding 32 bits in its low half (bit 31 is the highest ever set, so
# every word is a non-negative BIGINT on any ANSI engine — no two's-
# complement edge cases in the oracle). Hashing is the repo's portable
# md5-prefix scheme (two independent 32-bit halves of one md5) composed via
# Kirsch–Mitzenmacher double hashing, with h2 forced odd so the probe
# sequence is full-cycle over the power-of-two bit space. Every bit
# position is reproducible verbatim in DuckDB — the driver oracle rebuilds
# the exact word table.
#
# Why a Bloom filter when the family already has Theta sketches: Theta
# answers "how MANY items overlap"; Bloom answers "is THIS item possibly
# present" with no false negatives — the primitive for scale-path
# prefilters (decontamination, blocklists, seen-before gates) where the
# guarantee "a miss is definitely clean" lets the expensive exact check run
# on the tiny flagged subset only, leaving results bit-identical to the
# exact operator.

BLOOM_M_BITS = 1 << 18  # 256 Kbit / 8 K words ≈ 64 KB per filter
BLOOM_HASHES = 5


def _bloom_h1h2(h) -> tuple:
    """The two independent 32-bit hash halves from an md5 hex Column
    (h2 forced odd for full-cycle double hashing over power-of-two m)."""
    h1 = F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
    h2 = F.conv(F.substring(h, 9, 8), 16, 10).cast("long") * 2 + 1
    return h1, h2


def _bloom_probes_h1h2(h1, h2, m_bits: int, n_hashes: int) -> list:
    """Probe positions from ALREADY-COMPUTED hash halves — split out so
    array-context callers can evaluate md5 and the conv parses exactly
    once per element in prior ``transform`` stages (inside higher-order-
    function lambdas Spark evaluates the expression tree interpreted,
    with NO common-subexpression elimination — an md5/conv subtree
    shared by 5 probes would re-run per probe; measured 4x slower on
    the decontam flag pass)."""
    return [
        (h1 + F.lit(i).cast("long") * h2).bitwiseAND(F.lit(m_bits - 1))
        for i in range(n_hashes)
    ]


def _bloom_probes_md5(h, m_bits: int, n_hashes: int) -> list:
    """Probe positions from an md5 hex Column."""
    h1, h2 = _bloom_h1h2(h)
    return _bloom_probes_h1h2(h1, h2, m_bits, n_hashes)


def _bloom_probes(value, m_bits: int, n_hashes: int) -> list:
    """The ``n_hashes`` bit positions of ``value`` as Column expressions.

    h1 / h2 are the two 32-bit halves of one md5; position_i =
    (h1 + i * (2*h2 + 1)) & (m_bits - 1). The Python loop unrolls the
    probes so no lambda-scoped shiftleft is needed and Catalyst sees a
    flat codegen'd expression per probe.
    """
    return _bloom_probes_md5(F.md5(value.cast("string")), m_bits, n_hashes)


def bloom_build(
    df: DataFrame,
    col: str,
    keys: list[str] | None = None,
    m_bits: int = BLOOM_M_BITS,
    n_hashes: int = BLOOM_HASHES,
    bloom_col: str = "bloom",
) -> DataFrame:
    """Build one Bloom filter of ``col``'s values per ``keys`` group (or a
    single global filter) → ``(*keys, bloom_col array<long>)``.

    Distributed build: values explode into ``n_hashes`` (word_idx, mask)
    pairs, a map-side-combined ``bit_or`` per word collapses them (the
    shuffle carries at most ``m_bits/32`` rows per key, never the data),
    and the dense word array assembles from the sparse survivors. An empty
    input yields the all-zeros filter.

    Dense assembly is SEGMENTED (round 8): the round-7 shape
    collect_list'd + array_sort'd all ``m_bits/32`` word structs on ONE
    task, a term the profile measured LINEAR IN M on a single thread
    (0.8 s at 2^18 → 9.3 s at 2^28, tools/profile_bloom_bigeval.py) —
    and the ~10 bits/gram sizing contract ties m to the eval-set size,
    so big blocklists paid it. Now words group into 4096-word segments
    first: each segment sorts its own structs in a PARALLEL task, and
    the final per-key task only sorts ``m/32/4096`` (segment, array)
    pairs and flattens — the serial tail drops from O(m log m) struct
    sort to an O(m) array concat.
    """
    if m_bits & (m_bits - 1):
        raise ValueError("m_bits must be a power of two")
    keys = keys or []
    probes = F.array(*_bloom_probes(F.col(col), m_bits, n_hashes))
    words = (
        df.select(*keys, F.explode(probes).alias("_p"))
        .select(
            *keys,
            F.shiftright(F.col("_p"), 5).alias("_w"),
            F.call_function(
                "shiftleft",
                F.lit(1).cast("long"),
                F.col("_p").bitwiseAND(F.lit(31)).cast("int"),
            ).alias("_m"),
        )
        .groupBy(*keys, "_w")
        .agg(F.bit_or("_m").alias("_word"))
    )
    # dense assembly: union an all-zeros word table so every index exists,
    # then segment-sort-and-strip — NOT element_at over a map inside a
    # transform, whose interpreted per-slot map lookup is O(words)
    # (O(words²) per filter; measured ~3s of the build at 8K words)
    n_words = m_bits // 32
    seg_bits = 12  # 4096 words (16 KB) per segment task
    zeros = df.sparkSession.range(n_words).select(
        F.col("id").alias("_w"), F.lit(0).cast("long").alias("_word")
    )
    if keys:
        zeros = words.select(*keys).distinct().crossJoin(zeros)
    dense_words = (
        words.select(*keys, "_w", "_word")
        .unionByName(zeros)
        .groupBy(*keys, "_w")
        .agg(F.bit_or("_word").alias("_word"))
    )
    segs = (
        dense_words.withColumn("_s", F.shiftright(F.col("_w"), seg_bits))
        .groupBy(*keys, "_s")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("_w"), F.col("_word")))
            ).alias("_sw")
        )
        .select(
            *keys,
            "_s",
            F.transform(F.col("_sw"), lambda s: s.getField("_word")).alias(
                "_seg"
            ),
        )
    )
    packed = F.flatten(
        F.transform(
            F.array_sort(F.collect_list(F.struct(F.col("_s"), F.col("_seg")))),
            lambda s: s.getField("_seg"),
        )
    ).alias(bloom_col)
    return segs.groupBy(*keys).agg(packed) if keys else segs.agg(packed)


def bloom_maybe_contains(
    value,
    bloom,
    m_bits: int = BLOOM_M_BITS,
    n_hashes: int = BLOOM_HASHES,
):
    """Boolean Column: could ``value`` be in the filter? False is
    definitive (no false negatives); True is probabilistic with FPR ≈
    (1 - e^(-n_hashes * n / m_bits))^n_hashes. Pure per-row expression —
    probes unrolled, every op codegen'd JVM-side."""
    return _bloom_maybe_contains_md5(
        F.md5(value.cast("string")), bloom, m_bits, n_hashes
    )


def _bloom_maybe_contains_md5(h, bloom, m_bits: int, n_hashes: int):
    """Membership test from a pre-computed md5 hex Column (see
    ``_bloom_probes_h1h2`` for why the split exists)."""
    h1, h2 = _bloom_h1h2(h)
    return _bloom_maybe_contains_h1h2(h1, h2, bloom, m_bits, n_hashes)


def _bloom_maybe_contains_h1h2(h1, h2, bloom, m_bits: int, n_hashes: int):
    """Membership test from pre-computed hash halves."""
    bloom = F.col(bloom) if isinstance(bloom, str) else bloom
    cond = None
    for p in _bloom_probes_h1h2(h1, h2, m_bits, n_hashes):
        word = F.element_at(bloom, (F.shiftright(p, 5) + 1).cast("int"))
        mask = F.call_function(
            "shiftleft", F.lit(1).cast("long"), p.bitwiseAND(F.lit(31)).cast("int")
        )
        hit = word.bitwiseAND(mask) != 0
        cond = hit if cond is None else cond & hit
    return cond


def bloom_decontaminate(
    docs: DataFrame,
    eval_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 8,
    m_bits: int = BLOOM_M_BITS,
    n_hashes: int = BLOOM_HASHES,
) -> DataFrame:
    """``corpus.decontaminate`` with a Bloom prefilter — bit-identical
    output (the driver oracle checks it against the exact SQL), different
    100 TB posture.

    The exact operator semi-joins EVERY corpus gram against a broadcast
    hash relation of the eval set's distinct grams — ~60+ bytes per gram
    of broadcast, which stops fitting (and forces a corpus-wide shuffle
    BY GRAM, the scale cliff) once the eval/blocklist side grows past
    broadcast size. Here the eval grams build one m_bits/8-byte filter
    (~10 bits per gram at 1% FPR — ~40x smaller than the string hash
    relation), the exploded corpus gram stream drops everything the
    filter rejects inside whole-stage codegen (one md5 + n_hashes bitmask
    probes per gram, CSE intact — NOT a higher-order-function lambda,
    which evaluates interpreted without CSE and measured 3x slower), and
    only the surviving suspects (true hits + ~1e-4 false positives at
    benchmark-sized eval sets) reach the exact string semi-join. No
    false negatives ⇒ every truly contaminated gram survives the
    prefilter ⇒ output == exact output, with exactness never resting on
    md5 collision-freedom (the final join compares gram STRINGS).

    The exact semi-join carries NO broadcast hint (round 8): its build
    side is the FULL eval gram relation — the very table whose
    broadcast-stops-fitting cliff this operator exists to dodge — so a
    static hint would reintroduce the cliff for the verify stage once
    the blocklist outgrows executor memory. Both join inputs here are
    modest (suspects ≈ true hits + FPR·corpus; eval grams ≈ blocklist),
    so AQE broadcasts from runtime stats while eval is small and falls
    back to a suspect-sized shuffle join when it is not — the decision
    rides the data, not an assumption.
    """
    from .dedup import shingles

    sh = F.array_distinct(shingles(F.col(text_col), n=ngram))
    eval_grams = eval_docs.select(F.explode(sh).alias("_g")).distinct()
    bloom = bloom_build(eval_grams, "_g", m_bits=m_bits, n_hashes=n_hashes)
    gram_rows = docs.select(F.col(id_col), F.explode(sh).alias("_g"))
    suspects = (
        gram_rows.crossJoin(F.broadcast(bloom))
        .where(
            _bloom_maybe_contains_md5(F.md5("_g"), F.col("bloom"), m_bits, n_hashes)
        )
        .drop("bloom")
    )
    contaminated = (
        suspects.join(eval_grams, "_g", "left_semi")
        .select(id_col)
        .distinct()
    )
    eval_ids = eval_docs.select(id_col)
    return docs.join(contaminated, id_col, "left_anti").join(
        eval_ids, id_col, "left_anti"
    )
