"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
blocked edit-distance (fuzzy).

Scale shape: every variant here avoids the O(n²) all-pairs comparison.

- **exact**: hash-groupBy on a normalized fingerprint — one shuffle on the
  hash, keeper chosen deterministically (min doc_id).
- **MinHash+LSH**: shingle → k minhashes → band buckets → self-join only
  within buckets → exact Jaccard verify on candidates. The self-join is on
  (band, band_hash), so the shuffle carries bucket-sized groups, not the
  corpus. Clique-heavy corpora (boilerplate replicas) have two escape
  hatches for the quadratic within-bucket pair grain: a deterministic
  hot-bucket cap with an auditable dropped-mass surface
  (``capped_bucket_pairs``/``hot_buckets``), and component-grain output
  via per-bucket star edges (``minhash_components`` — linear in bucket
  size, composes with ``prune_by_components``).
- **SimHash**: 64-bit signature per doc via HOF bit-vote, banded into 16-bit
  quarters for candidate generation (two signatures within Hamming distance
  3 must share one of 4 bands).
- **n-gram Jaccard**: the verify step, exposed standalone.
- **fuzzy**: levenshtein pairs under first-token + length-band blocking —
  the quadratic-per-pair distance runs only on blocked survivors.
- **line-level** (CCNet/RefinedWeb): drop individual LINES that repeat
  across documents (boilerplate) and rebuild docs — frequency pass on md5
  line hashes, offender set reduced before the join back.

All pure Column expressions (xxhash64 is Spark's JVM-side 64-bit hash) — no
Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .text import fingerprint, tokens


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one row per distinct normalized text (lowest id wins).

    groupBy on the md5 fingerprint — the only shuffle is on the hash,
    not the document body; map-side partial agg keeps it cheap. The key
    rides as the 16-byte ``unhex`` BINARY, not ``fingerprint``'s 32-char
    hex surface (§2.3 narrower types, r12 session-7: the hex↔binary map
    is bijective so the groups — and therefore the survivors — are
    identical; interleaved A/B + sf1 shuffle bytes in
    tools/ab_exactdedup_bin_r12.py). ``exact_dup_groups`` keeps the hex
    fp: there it is an OUTPUT column the report contract exposes.

    r12 note — alternative REJECTED on measurement: a loser-id
    formulation (per-fp window → non-min ids of multi-doc groups →
    broadcast ANTI join, build side duplicate-count-sized instead of
    distinct-doc-sized) measured slower at sf0.1 (0.425 → 0.473 med) AND
    sf1 (exec time 488 → 517-555 s; shuffle 119.6 vs 110.2 MB, a wash) —
    the window's per-fp sort costs more than the hash agg it replaces,
    and the smaller build side only pays past a broadcast ceiling
    (distinct-doc count) nothing here approaches. Numbers + arms in
    tools/ab_exactdedup_r12.py.
    """
    h = F.unhex(fingerprint(text_col)).alias("fp")
    keepers = df.select(h, F.col(id_col)).groupBy("fp").agg(F.min(id_col).alias(id_col))
    return df.join(keepers, id_col, "left_semi")


def exact_dup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Duplicate-group report: fingerprint → keeper id + group size."""
    return (
        df.select(fingerprint(text_col).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("group_size"))
    )


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    mode: str = "drop_common",
    min_docs: int = 2,
) -> DataFrame:
    """Line-level corpus dedup (the CCNet / RefinedWeb boilerplate pass):
    drop individual LINES that repeat across documents — nav menus, cookie
    banners, copyright footers — and rebuild each document from its
    surviving lines. Returns ``(id_col, text, n_lines, n_kept)``.

    Modes (both key on ``lower(trim(line))`` hashed to md5, like
    :func:`exact_dedup`'s fingerprint; empty/whitespace-only lines are
    structure, not content — always kept, never counted):

    - ``drop_common``: a line is dropped EVERYWHERE if it appears in at
      least ``min_docs`` distinct documents (RefinedWeb-style boilerplate
      removal).
    - ``keep_first``: a shared line survives only in the lowest-``id_col``
      document containing it (CCNet-style exact line dedup); repeats
      within that keeper document all survive.

    Scale shape (r12 restructure — decide with small rows, rebuild
    map-side, the same pattern as :func:`substring_dedup`): ONE decide
    pass over ``(md5-binary, doc, line_no)`` coordinates — never line
    text — windowed by fp: dense_rank-by-id's max is the distinct-doc
    count, keeper is min(id), both sharing one exchange and one sort (a
    groupBy(fp) + join-back would re-evaluate the input plan a third
    time — measured 1.27× slower; a groupBy(fp, doc) collapse before the
    window pays a second coordinate exchange — measured +40% shuffle).
    The qualifying rows reduce to one tiny sorted drop-positions list
    per affected doc, and documents rebuild from the original scan:
    untouched docs pass through with their text UNCHANGED (split/join
    roundtrip elided), affected docs filter the dropped positions out of
    the split array — all JVM, no Python. The old rebuild (groupBy(doc)
    + sorted collect_list over EVERY line of every doc) shuffled the
    whole corpus body plus a 32-char fp per line; now line text never
    crosses an exchange at all (sf1 measured: shuffle write 562 → 257 MB
    = 0.46×, executor time 0.76×). The drop-list attach is id-keyed and
    bounded by the affected-doc count (AQE-broadcast at bench scale; a
    pathological all-boilerplate corpus degrades it to ONE doc-keyed
    shuffle of raw text — the shape the old formulation paid
    unconditionally, amplified to line grain). Known skew note: the
    per-fp window co-locates a hot fp's line-grain coordinate rows
    (16-byte hash + id + int, not text).
    """
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("_ln", "_line"),
    )
    norm = F.lower(F.trim(F.col("_line")))
    if mode not in ("drop_common", "keep_first"):
        raise ValueError(f"unknown mode: {mode!r}")
    # unhex(md5): the 16-byte binary digest, not the 32-char hex string —
    # identical grouping (bijective), half the key bytes on every decide
    # exchange (guide §2.3 narrower types). The fp never leaves the plan.
    hashed = lines.select(
        F.col(id_col),
        F.col("_ln"),
        F.when(norm == "", F.lit(None)).otherwise(F.unhex(F.md5(norm))).alias("_fp"),
    )
    # one decide pass, ONE corpus-coordinate exchange: windows over the
    # fp-partitioned line stream supply the distinct-doc count (max of
    # dense_rank by id — ties within a doc share a rank) and keeper in
    # place; both specs share the exchange and the (fp, id) sort. A
    # groupBy(fp) + join-back would re-evaluate the whole line stream
    # (and the input plan under it) a third time; a groupBy(fp, id)
    # before the window would pay a second coordinate exchange.
    w_all = Window.partitionBy("_fp")
    w_ord = Window.partitionBy("_fp").orderBy(id_col)
    stats = (
        hashed.where(F.col("_fp").isNotNull())
        .withColumn("_r", F.dense_rank().over(w_ord))
        .withColumn("_docs", F.max("_r").over(w_all))
    )
    if mode == "drop_common":
        hit = stats.where(F.col("_docs") >= min_docs)
    else:
        hit = stats.withColumn("_keeper", F.min(id_col).over(w_all)).where(
            (F.col("_docs") >= 2) & (F.col(id_col) != F.col("_keeper"))
        )
    drops = hit.groupBy(id_col).agg(
        F.sort_array(F.collect_list("_ln")).alias("_drops")
    )
    src = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col), F.col(text_col).alias("_text")
    ).join(drops, id_col, "left")
    arr = F.split(F.col("_text"), "\n")
    n_lines = F.size(arr).cast("long")
    untouched = F.col("_drops").isNull()
    kept = F.filter(arr, lambda x, i: ~F.array_contains(F.col("_drops"), i))
    return src.select(
        F.col(id_col),
        F.when(untouched, F.col("_text"))
        .otherwise(F.array_join(kept, "\n"))
        .alias("text"),
        n_lines.alias("n_lines"),
        F.when(untouched, n_lines)
        .otherwise(n_lines - F.size("_drops"))
        .cast("long")
        .alias("n_kept"),
    )


def substring_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
) -> DataFrame:
    """Exact SUBSTRING deduplication (Lee et al. 2022, arXiv:2107.06499
    "Deduplicating Training Data Makes Language Models Better"; the
    RefinedWeb exact-substring pass): remove every duplicated token span
    of length ≥ ``k`` from all but its canonical first occurrence, and
    rebuild each document from the surviving tokens. Catches the case
    the document/line passes miss — long verbatim quotes, licence
    blocks, and template spans EMBEDDED inside otherwise-unique
    documents (and verbatim self-repeats within one document). Returns
    ``(id_col, text, n_tok, n_removed)`` for every non-empty input doc.

    Semantics (deterministic, engine-portable — the reference work uses
    a suffix array over the byte stream; this is the token-level
    formulation those pipelines deploy at scale):

    - Matching is on LOWERCASED tokens; rebuilding uses the ORIGINAL
      tokens joined by single spaces (the line_dedup convention).
    - A k-gram occurrence is ``(doc, pos)``; the canonical occurrence of
      a gram is the minimum ``struct(doc, pos)`` under Spark's struct
      ordering (first doc, first position — id ordering is whatever the
      id type's natural order is, so string ids work and bigints never
      overflow a packed key). Every NON-canonical occurrence of a gram
      that occurs more than once corpus-wide is a duplicate START.
    - A token is removed iff ANY duplicate start covers it — i.e. some
      duplicated k-gram beginning within the previous k-1 positions —
      so overlapping duplicate grams merge into one removed span, and
      maximal duplicated spans of length L ≥ k lose all L tokens in
      non-canonical copies while the canonical copy keeps them.

    Scale shape (r12 restructure — decide with small rows, rebuild
    map-side): the k-gram construction (a zip_with concat chain —
    interpreted HOF, the dominant CPU) is evaluated ONCE, and token-grain
    rows never cross a doc-keyed exchange. One window over the gram
    column (count + min-key per gram: the agg+self-join formulation
    re-evaluated the whole gram build on BOTH join sides — measured 2×
    the gram CPU and 4.33 → 2.51 s at sf0.1 when removed) reduces to the
    duplicate STARTS ``(doc, pos)`` — a sliver of the corpus — which
    aggregate per doc into one tiny sorted positions list. Documents then
    rebuild from the original scan: untouched docs (no dup starts —
    the vast majority) re-join space-normalized entirely in the JVM;
    only dup-carrying docs cross to Python, where one vectorized
    interval-coverage pass per batch rebuilds them (Arrow-batched
    mapInPandas over exactly the needed columns). The dup-starts attach
    is id-keyed and sliver-sized (AQE broadcasts it; if a pathological
    corpus outgrows the threshold the join degrades to a doc-keyed
    shuffle — the shape the OLD formulation paid for every token row
    unconditionally). No suffix array, no global sort.
    """
    toks = tokens(F.col(text_col))
    tl = tokens(F.lower(F.col(text_col)))
    joined = tl
    for i in range(2, k + 1):
        joined = F.zip_with(
            joined, F.slice(tl, i, F.size(tl)),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    base = df.where(F.trim(F.col(text_col)) != "")
    # zip_with pads the short side with null, so positions whose k-gram
    # would run off the end carry a null gram — dropped before the
    # window (they can never be duplicate starts, and keying them would
    # put every doc tail in one hot null partition)
    z = (
        base.select(F.col(id_col), F.posexplode(joined).alias("pos", "g"))
        .where(F.col("g").isNotNull())
        .select(id_col, F.col("pos").cast("long").alias("pos"), "g")
        .withColumn(
            # canonical-occurrence key: struct ordering, not arithmetic
            # packing — a long*2^32+pos key NULLs out on non-numeric ids
            # (silently disabling all removal) and collides past 2^31
            "okv", F.struct(F.col(id_col).alias("d"), F.col("pos").alias("p"))
        )
    )
    wg = Window.partitionBy("g")
    dups = (
        z.withColumn("_cnt", F.count(F.lit(1)).over(wg))
        .withColumn("_mokv", F.min("okv").over(wg))
        .where((F.col("_cnt") > 1) & (F.col("okv") != F.col("_mokv")))
        .select(id_col, "pos")
    )
    starts = dups.groupBy(id_col).agg(
        F.sort_array(F.collect_list("pos")).alias("_starts")
    )
    src = base.join(starts, id_col, "left")
    clean = src.where(F.col("_starts").isNull()).select(
        F.col(id_col),
        F.concat_ws(" ", toks).alias("text"),
        F.size(toks).cast("long").alias("n_tok"),
        F.lit(0).cast("long").alias("n_removed"),
    )
    id_type = df.schema[id_col].dataType.simpleString()
    dirty = src.where(F.col("_starts").isNotNull()).select(
        F.col(id_col), toks.alias("_toks"), "_starts"
    )

    def _rebuild(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            texts, ntoks, nrem = [], [], []
            for t, s in zip(pdf["_toks"], pdf["_starts"]):
                n = len(t)
                # interval coverage via a difference array: a dup start s
                # removes tokens [s, s+k-1] — mark +1 at s, -1 past the
                # clamped end, prefix-sum > 0 is the covered mask
                diff = np.zeros(n + 1, dtype=np.int64)
                s = np.asarray(s, dtype=np.int64)
                np.add.at(diff, s, 1)
                np.add.at(diff, np.minimum(s + k, n), -1)
                cov = np.cumsum(diff[:n]) > 0
                texts.append(" ".join(tok for tok, c in zip(t, cov) if not c))
                ntoks.append(n)
                nrem.append(int(cov.sum()))
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "text": texts,
                    "n_tok": np.asarray(ntoks, dtype=np.int64),
                    "n_removed": np.asarray(nrem, dtype=np.int64),
                }
            )

    dirty_out = dirty.mapInPandas(
        _rebuild,
        schema=f"{id_col} {id_type}, text string, n_tok long, n_removed long",
    )
    return clean.unionByName(dirty_out)


def shingles(text: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles of the normalized text → array<string>.

    Documents shorter than ``n`` words yield their whole text as the single
    shingle (so short docs still dedup exactly).

    Built by zip_with-ing the token array against its n−1 shifted copies
    (``zip_with`` pads the short side with null; a null part nulls the
    concat, and the trailing partial shingles are filtered off). This does
    one concat per shingle instead of the transform-over-indices +
    ``slice``-per-position shape, which allocates a sub-array per shingle —
    measured 7.5× faster at sf0.1.
    """
    toks = tokens(F.lower(F.col(text) if isinstance(text, str) else text))
    joined = toks
    for i in range(2, n + 1):
        joined = F.zip_with(
            joined, F.slice(toks, i, F.size(toks)),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    full = F.filter(joined, lambda x: x.isNotNull())
    # < n words: the whole text is the single shingle (empty text → [""],
    # matching concat_ws over an empty slice in the index formulation)
    return F.when(F.size(toks) < n, F.array(F.concat_ws(" ", toks))).otherwise(full)


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    shingle_n: int = 3,
) -> DataFrame:
    """Per-doc minhash signature as ``num_hashes`` columns ``h0..hN``.

    Relational route, deliberately: ``explode(shingles) → num_hashes
    codegen'd xxhash64 columns → groupBy(min per column)``. A nested-HOF
    formulation (transform over seeds × transform over shingles) is
    interpreted per element and measured ~60× slower at sf0.1; this shape
    stays in whole-stage codegen with map-side partial min and one shuffle
    on the doc id.

    Hash family: the variable-length shingle string is hashed ONCE
    (``xxhash64(shingle)``), then the k-member family is derived by
    re-hashing that fixed 8-byte value with the seed as salt
    (``xxhash64(seed_i, base)``). Hashing a long is O(1) vs O(len) for the
    string, so signature cost is 1 string hash + k long hashes per shingle
    instead of k string hashes — ~2-3× faster at k=32, and the gap widens
    with longer shingles (independence is as good: xxhash64 mixes the full
    64-bit input per seed).
    """
    exploded = df.select(
        F.col(id_col), F.explode(shingles(text_col, shingle_n)).alias("sh")
    )
    # ONE projection for all k hashes: the shared inner xxhash64(sh) is a
    # plain (non-lambda) subexpression, so whole-stage codegen's
    # subexpression elimination evaluates it once per row — unlike HOF
    # lambdas, which have no CSE (the repo's documented lesson). Folding
    # the base-hash projection away measured ~25% off the per-micro-batch
    # DataFrame CONSTRUCTION cost in the streaming gate (eager analysis
    # is per-DataFrame) with identical signatures and exec time.
    hb = F.xxhash64(F.col("sh"))
    hashed = exploded.select(
        id_col,
        *[F.xxhash64(F.lit(i), hb).alias(f"h{i}") for i in range(num_hashes)],
    )
    return hashed.groupBy(id_col).agg(
        *[F.min(f"h{i}").alias(f"h{i}") for i in range(num_hashes)]
    )


def _minhash_banded(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    bands: int,
    shingle_n: int,
) -> DataFrame:
    """The exploded LSH bucket frame ``(id_col, band, band_hash)`` — one
    row per (doc, band), band_hash = xxhash64 over the band's minhash
    slice. Shared by candidate pairing, the hot-bucket audit, and the
    component-grain path (identical values to minhash_index's
    ``band_hashes`` column — same xxhash64 over the same columns)."""
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(df, text_col, id_col, num_hashes, shingle_n)
    band_hashes = [
        F.xxhash64(
            *[F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]
        ).alias(f"b{b}")
        for b in range(bands)
    ]
    return sig.select(id_col, *band_hashes).select(
        id_col, F.posexplode(F.array(*[F.col(f"b{b}") for b in range(bands)])).alias(
            "band", "band_hash"
        )
    )


def capped_bucket_pairs(
    banded: DataFrame,
    id_col: str = "id",
    max_bucket_size: int | None = None,
    bucket_cols: tuple[str, ...] = ("band", "band_hash"),
) -> DataFrame:
    """Distinct pairs (id_a < id_b) co-resident in ≥1 bucket, with the
    standard MMDS hot-bucket skip: buckets holding more than
    ``max_bucket_size`` members are dropped WHOLE before pairing.

    This is the pairing core of :func:`minhash_candidates`, exposed over
    ANY ``(id, bucket...)`` frame so the cap semantics are checkable
    against a SQL oracle on deterministic (non-seeded-hash) buckets —
    the granular DEDUP-CAPPED entry does exactly that.

    Why cap: pair output is Σ C(bucket,2) — quadratic in the largest
    bucket. A boilerplate clique (100k copies of a cookie banner) puts
    100k docs in one bucket per band and the pair grain explodes even
    though the ANSWER (one dup group) is tiny. Dropping hot buckets
    bounds output at ``Σ C(cap,2)`` per bucket; a pair lost to one hot
    bucket still surfaces through any of its other, cooler bands. The
    cap is deterministic (a pure size predicate, no sampling) and NEVER
    silent — audit the dropped mass with :func:`hot_buckets` over the
    same frame (clique-heavy corpora should prefer the component-grain
    output, :func:`minhash_components`, which is linear in bucket size
    and needs no cap at all).

    Plan shape: the size predicate is a count over a window keyed on
    ``bucket_cols`` — the same partitioning the self-join needs, so the
    filter rides the join's own exchange rather than adding one.
    """
    if max_bucket_size is not None:
        w = Window.partitionBy(*[F.col(c) for c in bucket_cols])
        banded = (
            banded.withColumn("_bn", F.count(F.lit(1)).over(w))
            .where(F.col("_bn") <= max_bucket_size)
            .drop("_bn")
        )
    a = banded.alias("a")
    b = banded.alias("b")
    cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    for c in bucket_cols:
        cond = (F.col(f"a.{c}") == F.col(f"b.{c}")) & cond
    return (
        a.join(b, cond)
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def hot_buckets(
    banded: DataFrame,
    max_bucket_size: int,
    bucket_cols: tuple[str, ...] = ("band", "band_hash"),
) -> DataFrame:
    """The no-silent-caps audit for :func:`capped_bucket_pairs`: every
    bucket the cap drops, with its member count and the pair mass that
    was NOT emitted (``C(bucket_size, 2)``). One groupBy over the banded
    frame — hot buckets are few by definition, so the result is tiny."""
    return (
        banded.groupBy(*bucket_cols)
        .agg(F.count(F.lit(1)).alias("bucket_size"))
        .where(F.col("bucket_size") > max_bucket_size)
        .withColumn(
            "n_dropped_pairs",
            (F.col("bucket_size") * (F.col("bucket_size") - 1) / 2).cast("long"),
        )
    )


def bucket_star_edges(
    banded: DataFrame,
    id_col: str = "id",
    bucket_cols: tuple[str, ...] = ("band", "band_hash"),
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Per-bucket STAR edges ``(bucket_min_id → member)`` instead of the
    full within-bucket clique: ``bucket_size - 1`` edges per bucket where
    pairing emits ``C(bucket_size, 2)``. Connectivity is identical — every
    member reaches every other through the bucket minimum — so connected
    components over star edges equal components over clique pairs, at
    LINEAR (not quadratic) edge grain. The escape hatch for clique-heavy
    corpora where the pair GRAIN explodes even though the component
    ANSWER is small (a 100k-copy boilerplate bucket emits 99,999 star
    edges vs ~5×10⁹ pairs). One window pass keyed on ``bucket_cols``
    computes the bucket min (and the optional cap's size predicate —
    same window, no extra shuffle)."""
    w = Window.partitionBy(*[F.col(c) for c in bucket_cols])
    out = banded.withColumn("_min", F.min(id_col).over(w))
    if max_bucket_size is not None:
        out = (
            out.withColumn("_bn", F.count(F.lit(1)).over(w))
            .where(F.col("_bn") <= max_bucket_size)
            .drop("_bn")
        )
    return (
        out.where(F.col(id_col) != F.col("_min"))
        .select(F.col("_min").alias("id_a"), F.col(id_col).alias("id_b"))
        .distinct()
    )


def minhash_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """LSH candidate pairs (id_a < id_b) sharing ≥1 minhash band.

    rows/band = num_hashes/bands; with 32 hashes in 8 bands the bucket
    probability is ``1-(1-j^4)^8`` — steep around Jaccard ~0.5. Each doc
    explodes into ``bands`` (band, band_hash) rows; the self-join key is
    (band, band_hash), so co-grouped data is bucket-local and the shuffle
    carries bucket-sized groups, never the corpus cross-product.

    ``max_bucket_size``: the hot-bucket cap (see
    :func:`capped_bucket_pairs` for semantics and the scale rationale).
    Default None
    preserves the uncapped candidate set; clique-heavy corpora
    (boilerplate replicas) should either cap or switch to
    :func:`minhash_components`.
    """
    banded = _minhash_banded(df, text_col, id_col, num_hashes, bands, shingle_n)
    return capped_bucket_pairs(banded, id_col, max_bucket_size)


def minhash_components(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Component-grain LSH output: ``(doc_id, component_id)`` for every
    doc sharing ≥1 minhash band with another — the same groups
    ``connected_components(minhash_candidates(df))`` yields (pinned by
    test), WITHOUT ever materializing the within-bucket pair cliques.

    Edges are per-bucket stars (:func:`bucket_star_edges`), so the edge
    grain is ≤ docs × bands regardless of corpus clique structure — the
    designed path for boilerplate-heavy crawls where DEDUP-MINHASH's
    pair grain goes quadratic (PERF-NOTES 43: 27.29M true pairs from
    100-replica cliques at sf1; as components that's ≤ 4M star edges).
    Note this is the BANDING graph's components (no exact-Jaccard verify
    — banding false positives merge groups); for verified semantics run
    :func:`near_dup_pairs` → :func:`connected_components` on corpora
    where the pair grain is affordable."""
    banded = _minhash_banded(df, text_col, id_col, num_hashes, bands, shingle_n)
    edges = bucket_star_edges(banded, id_col, max_bucket_size=max_bucket_size)
    return connected_components(edges)


def jaccard(shingles_a: Column, shingles_b: Column) -> Column:
    """Exact Jaccard similarity between two shingle arrays (as sets)."""
    sa, sb = F.array_distinct(shingles_a), F.array_distinct(shingles_b)
    inter = F.size(F.array_intersect(sa, sb)).cast("double")
    union = F.size(F.array_union(sa, sb)).cast("double")
    return F.when(union == 0, F.lit(0.0)).otherwise(inter / union)


def verify_pairs(
    cands: DataFrame,
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float | None = 0.7,
    shingle_n: int = 3,
) -> DataFrame:
    """The exact-Jaccard VERIFY stage, standalone: attach each candidate
    pair's shingle sets (two id-keyed joins — candidate-pair-scale, never
    corpus²) and score ``jaccard``. ``threshold=None`` returns every
    scored pair (e.g. to audit the banding curve); otherwise pairs below
    ``threshold`` die here — banding false positives never escape.
    Split out of :func:`near_dup_pairs` so the verify math is usable (and
    oracle-checkable) on ANY deterministic candidate set, independent of
    the seeded-hash candidate generation."""
    sh = df.select(
        F.col(id_col), shingles(text_col, shingle_n).alias("sh")
    )
    out = (
        cands.join(sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
        .join(sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
        .select("id_a", "id_b", jaccard(F.col("sh_a"), F.col("sh_b")).alias("jaccard"))
    )
    return out if threshold is None else out.where(F.col("jaccard") >= threshold)


def near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs verified with exact Jaccard.

    Candidates from ``minhash_candidates`` (bucket-local), then the
    :func:`verify_pairs` exact-Jaccard filter — false positives from
    banding die there; false negatives are governed by the
    (num_hashes, bands) curve.
    """
    cands = minhash_candidates(df, text_col, id_col, num_hashes, bands, shingle_n)
    return verify_pairs(cands, df, text_col, id_col, threshold, shingle_n)


#: Per-block Σ C(df,2) above which the candidate stage switches from the
#: all-pairs token join to PPJoin prefix filtering. Measured (round 7,
#: local[32]): a 2×10⁷-row codegen'd join clears in ~1-2 s — cheaper than
#: the prefix path's extra (block,tok) aggregation + per-doc window — while
#: the sf1 failure mode sat at Σ C(df,2) ≈ 10¹⁰ per block (PERF-NOTES 29),
#: three decades above the cutoff. At cluster scale each block is one join
#: key's task group, so the bound is per-task-group work, not per-node.
ADAPTIVE_ALLPAIRS_MAX_PAIRS = 20_000_000

#: Block-count bound for broadcasting the per-block routing table. One
#: (block_cols…, cost-long) row per block ≈ tens of bytes, so 2M rows is
#: ~100 MB on the driver — comfortably under a default 1 GiB driver but
#: far above any sane blocking key (the repo's (lang, source) callers
#: produce ~10²). Past the bound the routing table joins WITHOUT the
#: hint and AQE picks the strategy from runtime stats — slower, but a
#: caller who blocks on a near-unique key gets a working shuffle join
#: instead of a driver OOM.
MAX_BROADCAST_BLOCKS = 2_000_000


def blocked_jaccard_pairs(
    df: DataFrame,
    block_cols: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.2,
    cache: "StageCache | None" = None,
    allpairs_max_pairs: int = ADAPTIVE_ALLPAIRS_MAX_PAIRS,
    broadcast_routing: bool | None = None,
    branch_gate: bool = False,
) -> DataFrame:
    """Exact token-set Jaccard pairs within blocking groups — relationally,
    ADAPTIVE per block: cheap blocks take the all-pairs token join, blocks
    whose measured join cost explodes take PREFIX FILTERING, so common
    tokens never drive the candidate join where it matters and small
    blocks never pay the prefix machinery they don't need.

    The naive plan (self-join ALL exploded tokens on (block, token)) costs
    Σ_token df(token)² — quadratic in document frequency, so one stopword
    shared by 30k block members alone emits ~10⁹ join rows (measured: JVM
    heap OOM at the 500k-doc scale dir). Prefix filtering (Bayardo et al.,
    WWW'07 "Scaling Up All Pairs Similarity Search"; Xiao et al., PPJoin)
    makes the candidate join touch only each doc's RAREST tokens while
    staying exact for ``jaccard ≥ threshold``:

    1. order each doc's distinct tokens rarest-first (per-block document
       frequency asc, token asc — one total order per block, and pairs
       only form within a block);
    2. index only the first ``|d| − ⌈t·|d|⌉ + 1`` tokens (the PPJoin
       prefix for Jaccard threshold t): any pair with J ≥ t shares
       ≥ ⌈t·max(|a|,|b|)⌉ tokens, so by the prefix lemma the two
       prefixes must intersect — candidate generation is complete;
    3. join prefixes on (block, token) + the size filter
       (J ≥ t ⇒ t·|b| ≤ |a|), distinct the pairs;
    4. VERIFY exactly: join PREFIX candidates back to the full token
       sets for ``|A∩B|``; ``|A∪B| = |A|+|B|−|A∩B|``; the final
       ``≥ threshold`` predicate is authoritative, so every emitted pair
       is exact. (All-pairs blocks skip 1-4 entirely: their complete
       token join emits each pair exactly ``|A∩B|`` times, so one
       groupBy count is already the exact intersection — r12, the
       verify re-join there was pure overhead and the whole DEDUP-NGRAM
       r1→r11 drift.)

    Everything is codegen'd joins/aggregations — no per-pair array
    intersection. The quadratic term drops from Σ df² to Σ prefix-df²,
    and high-df tokens sort to the END of each doc's order, so they fall
    out of the prefix precisely when they are dangerous. ⌈t·n⌉ is
    computed as ``ceil(t·n − 1e-9)`` so FP noise can only LENGTHEN a
    prefix (more candidates, never a missed pair). threshold=0 degrades
    to indexing every token (the complete join).

    ADAPTIVE routing (round 7 — reclaims the 1.5-1.9× the unconditional
    prefix path cost at small SF while keeping the sf1 OOM→pass safety):
    each block's exact all-pairs join cost ``Σ_tok C(df,2)`` is computed
    IN-PLAN from the (block, token) df table the prefix path needs anyway.
    (Round 8: ONE bounded driver-side count over the block-grain routing
    table gates its broadcast hint — see MAX_BROADCAST_BLOCKS — so this
    builder is no longer fully lazy under the default. Round 9: the
    routing table itself is StageCached, so that count IS the query's
    first materialization — the persists it populates, toks/df_tok/
    block_cost, are exactly the stages the first action needed; the r8
    shape re-aggregated df_tok a second time and cost ×100 per-row
    0.22 → 0.367, PERF-NOTES 38/40.)

    Parameters of note:

    - ``broadcast_routing`` — ``None`` (default) RUNS A SPARK JOB AT
      PLAN-CONSTRUCTION TIME (a ``limit(MAX_BROADCAST_BLOCKS+1).count()``
      over the StageCached routing table) to decide the broadcast hint;
      callers building plans lazily must pass ``True`` (asserts a
      low-cardinality block key; fully lazy, hint applied) or ``False``
      (fully lazy, never hints — AQE decides from runtime stats). If
      the measuring job fails, a self-managed cache releases its
      persists before the error propagates.
    - ``cache`` — pass a composition-owned :class:`StageCache` to tie
      persist lifetimes to the outer pipeline; otherwise a self-managed
      cache releases when the returned frame becomes unreachable.
    - ``branch_gate`` — ``True`` RUNS ONE SPARK JOB AT PLAN-CONSTRUCTION
      TIME (a 3-column aggregate over the StageCached block-grain
      routing table — the same persist every branch reads, so the job
      is the query's own first materialization) and then builds ONLY
      the branch(es) the measured per-block costs route to. A corpus
      with no block over ``allpairs_max_pairs`` — the common case away
      from adversarial stopword blocks — gets a plan with NO prefix
      machinery at all (measured at sf0.1: 20 jobs/29 stages → 5/6,
      3.10 → 1.84 s for the standalone pair frame,
      tools/ab_branchgate_r13.py); a mixed corpus keeps today's exact
      two-branch shape. Output is identical in all cases (the branches
      partition blocks by the same predicate the gate measures).
      Default ``False`` keeps the builder fully lazy for callers that
      construct plans they may never run.
    Blocks at or under
    ``allpairs_max_pairs`` route their tokens straight into the complete
    all-pairs join (any J ≥ t > 0 pair shares a token — complete); blocks
    above it pay the per-doc window + prefix join. A doc lives in exactly
    one block, so the branches partition the corpus and their candidate
    unions stay within-block. BOTH generators are complete and the exact
    verify is authoritative, so the result is bit-identical to either
    pure strategy. At 100 TB the corpus is a mix of long-tail small
    blocks (all-pairs, no window shuffle) and a few huge ones (prefix,
    bounded by Σ prefix-df²) — the adaptive split is per join key, which
    is exactly the grain a cluster schedules.

    ``toks`` feeds multiple plan branches — Spark shares no common
    subplans, so it is persisted through a :class:`StageCache`
    (PERF-NOTES 23's kilobyte-persist lesson at token scale). ``n_tok``
    rides row-locally on the token table (r13): it equals the size of
    the distinct-token array the explode consumes, so the old
    ``groupBy(id).count()`` exchange, the token-table-by-id re-attach
    join, AND the two pair-grain size joins of the final arithmetic are
    all gone (guide §2.4) — pairs carry (n_a, n_b) from the pair join
    itself. Standalone callers get a self-managed cache released when
    the returned frame becomes unreachable; compositions pass their own
    ``cache`` so one lifecycle owns every stage.
    """
    from ..plans.compose import StageCache, release_when_unreachable

    own_cache = cache is None
    if own_cache:
        cache = StageCache()
    # n_tok rides ROW-LOCALLY on the token table (r13): it is the size of
    # the distinct-token array the explode consumes, so computing it
    # before the explode is free and identical to the old
    # ``toks.groupBy(id).count()`` (explode drops empty/null arrays, so
    # both paths cover exactly the docs with ≥1 distinct token). That
    # groupBy was an extra token-grain exchange, and re-attaching its
    # result meant joining the EXPLODED token table by id — broadcast at
    # bench SF but a full token-table shuffle once the size table
    # outgrows the broadcast threshold (guide §2.4: remove shuffles
    # outright). And because BOTH sides of every pair join carry n_tok,
    # the pair grain keeps (n_a, n_b) for free all the way to the final
    # similarity arithmetic — the old sizes frame and its two
    # pair-grain re-attach joins (sa/sb) are gone entirely.
    # the array is NAMED in an inner projection so n_tok's size() reads
    # the materialized column: inlining the array expression under both
    # size() and explode() leaves size(tokenize(text)) in the Project
    # ABOVE the Generate — evaluated once per TOKEN row, a ~100×
    # re-tokenize (A/B: 3.27 → 4.29 s; tools/ab_pairstage_decomp_r13.py)
    _tok_arr = F.array_distinct(tokens(F.lower(F.trim(F.col(text_col)))))
    toks = cache(
        df.select(
            F.col(id_col),
            *[F.col(c) for c in block_cols],
            _tok_arr.alias("_toks"),
        ).select(
            F.col(id_col),
            *[F.col(c) for c in block_cols],
            F.size("_toks").cast("long").alias("n_tok"),
            F.explode("_toks").alias("tok"),
        )
    )
    # per-block document frequency; its per-block Σ C(df,2) IS the exact
    # all-pairs join cost, measured in-plan (grain: block — tiny)
    df_tok = cache(
        toks.groupBy(*block_cols, "tok").agg(F.count(F.lit(1)).alias("_df"))
    )
    block_cost = cache(
        df_tok.groupBy(*block_cols).agg(
            F.sum(F.col("_df") * (F.col("_df") - 1) / 2)
            .cast("long")
            .alias("_cost")
        )
    )
    # routing rides at BLOCK grain — one (cost) row per block. Broadcast
    # is the right strategy when block count ≪ doc count (blocking's
    # construction for the repo's (lang, source) callers; a shuffle here
    # would re-key the whole token table by a ~100-value block column —
    # catastrophic skew), but block_cols are CALLER-controlled: blocking
    # on a near-unique key makes this aggregate corpus-sized and the
    # unconditional hint a driver/executor OOM. So the bound is
    # MEASURED, not assumed — unless the caller settles it:
    # ``broadcast_routing=True`` asserts "my block key is low-
    # cardinality" (the repo's own (lang, source) callers — skips the
    # measuring job and keeps the builder fully lazy), ``False`` never
    # hints, and the ``None`` default runs a limit-bounded count over
    # the StageCached block_cost (the count populates the same persist
    # the tagged join reads — the query's own first materialization,
    # not an extra aggregation; r9, PERF-NOTES 40) and hints only under
    # MAX_BROADCAST_BLOCKS; past it the routing table joins unhinted
    # and AQE picks the strategy from runtime stats. The all-pairs
    # branch never pays a (block,tok)-grain join for a _df column only
    # the prefix branch reads.
    build_small = build_big = True
    if branch_gate:
        # ONE construction-time job over the ≤|blocks|-row StageCached
        # routing table settles which branches exist at all (and the
        # broadcast hint, when the caller left it None, from the same
        # row). Rides the block_cost persist — the query's own first
        # materialization, same argument as the broadcast_routing=None
        # count below. Failure must not strand a self-managed cache's
        # persists (r8 ADVICE).
        try:
            _g = block_cost.agg(
                F.count(F.lit(1)).alias("nb"),
                F.min("_cost").alias("mn"),
                F.max("_cost").alias("mx"),
            ).collect()[0]
        except BaseException:
            if own_cache:
                cache.release()
            raise
        build_big = _g["mx"] is not None and _g["mx"] > allpairs_max_pairs
        # an empty routing table (no docs with tokens) routes "small":
        # both branches would be empty; the all-pairs one is the cheap
        # empty plan
        build_small = _g["mn"] is None or _g["mn"] <= allpairs_max_pairs
        if not build_big:
            # the all-small plan reads only toks: the gate-only persists
            # release now, not with the returned frame
            block_cost.unpersist(blocking=False)
            df_tok.unpersist(blocking=False)
        if broadcast_routing is None:
            broadcast_routing = _g["nb"] <= MAX_BROADCAST_BLOCKS
    if broadcast_routing is None:
        # The measuring job rides the query's OWN first materialization
        # (r8 verdict item 2): block_cost is StageCached just above, so
        # the limit-bounded count populates the very persist the tagged
        # join reads — the r8 shape re-aggregated df_tok a second time
        # for the count (measured: ×100 per-row ratio 0.22 → 0.367,
        # PERF-NOTES 38); this shape pays the aggregation once. If the
        # count itself fails, a self-managed cache must not strand its
        # persists (r8 ADVICE): release before re-raising.
        try:
            broadcast_routing = (
                block_cost.limit(MAX_BROADCAST_BLOCKS + 1).count()
                <= MAX_BROADCAST_BLOCKS
            )
        except BaseException:
            if own_cache:
                cache.release()
            raise
    if broadcast_routing:
        block_cost = F.broadcast(block_cost)
    if build_small and build_big:
        # StageCached: tagged feeds FOUR plan positions (a/b sides ×
        # small/ranked) — the un-persisted variant re-probes the routing
        # broadcast over the whole token table per consumer, A/B-measured
        # LOSING 2.76 → 3.47 s at sf0.1 (tools/ab_pairstage_r13.py); the
        # persist stays. It is strictly smaller than r12's (no sizes join
        # feeding it — n_tok already rides on toks).
        tagged = cache(toks.join(block_cost, block_cols))
    else:
        # single-branch plan (branch_gate measured a uniform corpus):
        # every token row routes the same way, so the _cost filters are
        # vacuous and the routing join disappears — the surviving branch
        # reads the toks persist directly
        tagged = None

    def pair_join(side: DataFrame) -> DataFrame:
        a, b = side.alias("a"), side.alias("b")
        cond = (
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            # size filter: J >= t implies t*|b| <= |a| and t*|a| <= |b|
            # — kept on BOTH branches (r12 A/B'd dropping it plus the
            # token-grain sizes join on the all-pairs branch: the lost
            # pruning outweighed the saved join, 3.4 → 5.5 s)
            & (F.col("a.n_tok") + 1e-9 >= F.lit(threshold) * F.col("b.n_tok"))
            & (F.col("b.n_tok") + 1e-9 >= F.lit(threshold) * F.col("a.n_tok"))
        )
        for c in block_cols:
            cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
        # n_a/n_b ride with the pair: functionally dependent on the ids,
        # so downstream groupBys key on all four and the final Jaccard
        # arithmetic needs no size re-attach join
        return a.join(b, cond).select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.n_tok").alias("n_a"),
            F.col("b.n_tok").alias("n_b"),
        )

    # cheap blocks: complete all-pairs token join, no window machinery.
    # Its join is COMPLETE (every shared token meets), so each pair
    # surfaces exactly |A∩B| times and a groupBy count IS the exact
    # intersection — no candidate distinct, no verify re-join (r12: the
    # old shape fed small-block candidates through the prefix branch's
    # verify machinery too, re-joining the token table it had already
    # joined — the bulk of the 2.49→4.27 s DEDUP-NGRAM drift; interleaved
    # A/B in tools/ab_dedup_ngram_r12.py, PERF-NOTES 61)
    small_inter = None
    if build_small:
        small = (
            tagged.where(F.col("_cost") <= allpairs_max_pairs)
            if tagged is not None
            else toks
        ).select(id_col, *block_cols, "tok", "n_tok")
        small_inter = (
            pair_join(small)
            .groupBy("id_a", "id_b", "n_a", "n_b")
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
    inter = small_inter
    if build_big:
        # expensive blocks: attach per-token df -> rarest-first order ->
        # PPJoin prefix (the (block,tok) join runs only on large-block rows)
        w = Window.partitionBy(id_col).orderBy(F.col("_df").asc(), F.col("tok").asc())
        big = (
            tagged.where(F.col("_cost") > allpairs_max_pairs)
            if tagged is not None
            else toks
        )
        ranked = (
            big.join(df_tok, [*block_cols, "tok"])
            .withColumn("_rn", F.row_number().over(w))
            .where(
                F.col("_rn")
                <= F.col("n_tok")
                - F.ceil(F.lit(threshold) * F.col("n_tok") - 1e-9)
                + 1
            )
            .select(id_col, *block_cols, "tok", "n_tok")
        )
        cand = pair_join(ranked).distinct()
        # exact verify for PREFIX candidates only: |A∩B| needs the FULL
        # token sets (the prefix join meets only on rarest-first
        # prefixes), so candidates join back to toks; the id determines
        # the block. Blocks partition docs, so a pair lives in exactly
        # one branch and the union below never double-counts.
        ta = toks.select(F.col(id_col).alias("id_a"), "tok")
        tb = toks.select(F.col(id_col).alias("id_b"), "tok")
        big_inter = (
            cand.join(ta, "id_a")
            .join(tb, ["id_b", "tok"])
            .groupBy("id_a", "id_b", "n_a", "n_b")
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
        inter = (
            big_inter if inter is None else big_inter.unionByName(small_inter)
        )
    out = inter.select(
        "id_a",
        "id_b",
        (
            F.col("n_inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double")
        ).alias("jaccard_sim"),
    ).where(F.col("jaccard_sim") >= threshold)
    return release_when_unreachable(out, cache) if own_cache else out


def simhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 2,
) -> DataFrame:
    """64-bit SimHash per doc → (id, simhash bitstring).

    Classic bit-vote, relationally: explode shingles → one xxhash64 → 64
    codegen'd bit columns (literal shifts) → groupBy summing ±1 votes →
    sign vector as a 64-char bitstring. One shuffle on the doc id,
    everything else whole-stage codegen (the HOF fold variant interprets
    64 array ops per shingle per row).
    """
    exploded = df.select(
        F.col(id_col), F.explode(shingles(text_col, shingle_n)).alias("sh")
    ).select(F.col(id_col), F.xxhash64("sh").alias("h"))
    votes = exploded.groupBy(id_col).agg(
        *[
            F.sum(
                F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) * 2 - 1
            ).alias(f"v{i}")
            for i in range(63, -1, -1)
        ]
    )
    bits = F.concat(
        *[
            F.when(F.col(f"v{i}") > 0, F.lit("1")).otherwise(F.lit("0"))
            for i in range(63, -1, -1)
        ]
    )
    return votes.select(id_col, bits.alias("simhash_bits"))


def simhash_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 2,
) -> DataFrame:
    """Candidate pairs sharing ≥1 of 4 16-bit SimHash bands.

    Pigeonhole: Hamming distance ≤3 across 64 bits ⇒ at least one clean
    16-bit quarter matches. Same banded self-join shape as MinHash LSH.
    """
    sig = simhash_signatures(df, text_col, id_col, shingle_n)
    banded = sig.select(
        F.col(id_col),
        F.posexplode(
            F.array(
                *[F.substring("simhash_bits", 1 + 16 * i, 16) for i in range(4)]
            )
        ).alias("band", "band_bits"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_bits") == F.col("b.band_bits"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def _union_find_batches(name_a: str, name_b: str):
    """Batch function for both :func:`connected_components` steps: exact
    union-find with min-root union over every (a, b) row in this task's
    partition, emitting one ``(node, root)`` row per node seen —
    including roots as ``(n, n)`` so isolated/self-edge nodes survive.
    Min-root union keeps the smaller id as parent at every step, so each
    emitted root IS its local component's minimum id."""

    def run(batches):
        import pandas as pd

        parent: dict = {}

        def find(x):
            parent.setdefault(x, x)
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:
                parent[x], x = root, parent[x]
            return root

        for pdf in batches:
            ca, cb = pdf.columns[0], pdf.columns[1]
            # .tolist() yields native scalars (int/str) — dict keys and
            # output rows stay numpy-free
            for a, b in zip(pdf[ca].tolist(), pdf[cb].tolist()):
                ra, rb = find(a), find(b)
                if ra != rb:
                    if rb < ra:
                        ra, rb = rb, ra
                    parent[rb] = ra
        if parent:
            nodes = list(parent)
            yield pd.DataFrame({name_a: nodes, name_b: [find(n) for n in nodes]})

    return run


def connected_components(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b"
) -> DataFrame:
    """Connected components over near-dup pairs → (doc_id, component_id).

    Near-dup PAIRS aren't dedup GROUPS: similarity is not transitive, so
    A~B, B~C must collapse into one keep-group {A,B,C} even when A~C was
    never a candidate. ``component_id`` is the component's minimum doc
    id — the deterministic keeper.

    Exact union-find in one lazy plan, so building the frame runs no
    job: each task contracts its partition of pairs to one
    ``(node, local_root)`` forest edge per node it saw (no shuffle),
    then one ``repartition(1)`` task unions the forest edges and emits
    the labels. Min-root union keeps every root its component's minimum
    at both steps. The merge task holds every node that appears in a
    pair: that is the ceiling, dup-count-sized rather than corpus-sized.
    """
    dt = pairs.schema[id_a].dataType
    forest_schema = T.StructType(
        [T.StructField("src", dt), T.StructField("dst", dt)]
    )
    out_schema = T.StructType(
        [T.StructField("doc_id", dt), T.StructField("component_id", dt)]
    )
    forest = pairs.select(
        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
    ).mapInPandas(_union_find_batches("src", "dst"), forest_schema)
    # consumers nest the whole pair plan under these two map nodes;
    # compositions whose pair plan is itself deep bound that with a
    # StageCache.cut() at their fan-out root (plans/compose.py)
    return forest.repartition(1).mapInPandas(
        _union_find_batches("doc_id", "component_id"), out_schema
    )


def prune_components(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    score_col: str | None = None,
) -> DataFrame:
    """Deduplicated corpus: drop every doc that is not its component's
    representative. Docs never seen in a pair are untouched — the
    anti-join is against the *dropped* set (component members minus
    representatives), which is near-dup-count sized, not corpus sized.
    Broadcast is left to AQE: at typical dup rates the dropped set fits the
    broadcast threshold, but it is unbounded in principle (cf. the writer's
    fact-key anti-join), so we don't force it.

    Representative choice: with ``score_col=None`` the minimum id keeps
    (deterministic, metadata-free — the component label itself). With a
    ``score_col``, the HIGHEST-scoring member keeps (min id on ties) —
    the RefinedWeb/FineWeb-style policy of retaining the best-quality or
    longest document per near-dup cluster instead of an arbitrary one.
    Cost: one extra join of the component table (pair-graph-scale, not
    corpus-scale) against the scores of ITS OWN members plus a
    per-component argmax window — the corpus never re-shuffles."""
    comps = connected_components(pairs)
    return prune_by_components(df, comps, id_col=id_col, score_col=score_col)


def prune_by_components(
    df: DataFrame,
    comps: DataFrame,
    id_col: str = "doc_id",
    score_col: str | None = None,
) -> DataFrame:
    """The keep-one-per-component half of :func:`prune_components`,
    standalone over a PRECOMPUTED ``(doc_id, component_id)`` frame — so
    the component-grain LSH path composes into a deduplicated corpus
    without ever materializing pairs::

        comps = minhash_components(docs)            # star-edge grain
        deduped = prune_by_components(docs, comps)  # or score_col=...

    Same representative policy and scale shape as
    :func:`prune_components` (min-id or best-score keeper; anti-join
    against the dropped set only)."""
    if score_col is None:
        dropped = comps.where(F.col("doc_id") != F.col("component_id")).select(
            F.col("doc_id").alias(id_col)
        )
    else:
        scored = comps.join(
            df.select(F.col(id_col).alias("doc_id"), F.col(score_col).alias("_sc")),
            "doc_id",
        )
        w = Window.partitionBy("component_id").orderBy(
            F.col("_sc").desc(), F.col("doc_id").asc()
        )
        dropped = (
            scored.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") > 1)
            .select(F.col("doc_id").alias(id_col))
        )
    return df.join(dropped, id_col, "left_anti")


def minhash_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """Self-contained per-doc MinHash index: ``(id, sig, band_hashes)``.

    The persistable artifact of the LSH family — ONE row per document
    (``sig`` = the k-minhash array, ``band_hashes`` = one xxhash64 per
    band), so a 1B-doc index is ~(k+bands)×8 B/doc with no per-band row
    duplication. ``incremental_near_dups`` explodes the band column at
    serve time (cheap, map-side) instead of storing the index exploded;
    column pruning means a serve scan reads ``sig`` only for the ids that
    actually reach the estimation join. Persist with a plain parquet
    write (or exploded and bucketed on band_hash to pre-pay the
    candidate-join shuffle when the increment:corpus ratio is tiny).
    """
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(df, text_col, id_col, num_hashes, shingle_n)
    band_hashes = [
        F.xxhash64(*[F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)])
        for b in range(bands)
    ]
    return sig.select(
        id_col,
        F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("sig"),
        F.array(*band_hashes).alias("band_hashes"),
    )


def est_jaccard(sig_a: Column, sig_b: Column) -> Column:
    """Jaccard estimate from two minhash signature arrays: the fraction of
    agreeing components (unbiased, stderr ≈ 1/sqrt(k))."""
    agree = F.size(F.filter(F.zip_with(sig_a, sig_b, lambda x, y: x == y), lambda z: z))
    return agree.cast("double") / F.size(sig_a).cast("double")


#: Auto-mode bound for hinting the increment broadcast-sized when AQE is
#: off: 100k docs → banded frame ≈ docs × bands(8) rows of (id, band,
#: band_hash) ≈ 32 MB, sig frame ≈ docs × (num_hashes+bands) × 8 B ≈
#: 32 MB — both comfortably executor- and driver-heap-safe, an order of
#: magnitude under the ~0.9 GB half-corpus broadcast that OOMed the r9
#: sf1 bench (PERF-NOTES 44).
AUTO_SMALL_INCREMENT_MAX_DOCS = 100_000


def incremental_near_dups(
    new_docs: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float | None = 0.5,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    new_index: DataFrame | None = None,
    dedupe: bool = True,
    small_increment: bool | None = None,
    tag_new: bool = False,
    exclude_buckets: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs for an increment WITHOUT recomputing the corpus —
    the daily-drop serve path over a persisted ``minhash_index``.

    Returns ``(id_a, id_b, est_jaccard)`` (id_a < id_b) for every pair
    with ≥1 new document: new-vs-indexed via a (band, band_hash) join of
    the increment's bands against the exploded index, plus new-vs-new via
    the same key self-joined within the increment. Candidates verify with
    the signature-estimated Jaccard (the index does not retain shingles;
    k=32 gives ±0.18 at 95% — pass ``threshold=None`` for the raw
    candidate set, e.g. to re-verify exactly against the source texts).
    The verify runs INLINE in the candidate joins — ``sig`` rides the
    band explode, so the whole operator is ONE index scan and no
    candidate-grain shuffle beyond the pair distinct (the r10 shape's
    signature-attach join + per-pair groupBy re-scanned the index and
    dominated the 1× streaming gate's drop-set section; PERF-NOTES 56).

    Ids must be disjoint between index and increment (re-ingest dedupes
    to one pair row via the pair ``distinct()``).

    100 TB shape: the increment side of the candidate join is tiny vs the
    index, so AQE broadcasts it and the index scan never shuffles; sig
    amplification from riding the explode (bands × k longs per indexed
    doc) is map-local — broadcast-hash joins stream the exploded index
    through the scan without exchanging it. That map-local claim holds
    ONLY under a broadcast candidate join (ADVICE r11): a sort-merge
    plan would exchange the sig-amplified explode (~12× the bytes of the
    bare band rows at k=32/bands=8). So the sig-inline formulation is
    used exactly when ``small_increment`` resolves True (the joins are
    broadcast-hinted); otherwise — backfill-shaped increments where AQE
    may legitimately pick sort-merge — the band join runs UNAMPLIFIED
    (id, band, band_hash only) and signatures attach at verified-PAIR
    grain by an id equi-join against the doc-grain index frames: one
    doc-grain sig shuffle instead of a band-grain amplified one. Output
    is identical (pinned in tests). Build params (num_hashes, bands,
    shingle_n) must match the index's.

    ``new_index``: a prebuilt ``minhash_index(new_docs)`` frame. The plan
    references the increment's index three times (two candidate-join
    sides plus the self-join); without common-subplan elimination Spark
    recomputes the shingle+minhash expression once per reference.
    Callers holding the increment in memory should build the index once,
    ``persist()`` it, and pass it here (the streaming gate does).

    ``dedupe=False`` (the gate's micro-batch setting) collapses
    multi-band duplicate rows at verified-pair grain — one distinct
    AFTER the threshold, the cheapest point. ``dedupe=True`` keeps the
    old placement (distinct BEFORE the threshold), worth its earlier
    shuffle only when heavy multi-band candidate duplication precedes a
    permissive threshold. Output pairs are unique either way.

    ``tag_new=True`` adds ``a_new``/``b_new`` boolean columns marking
    which side of each pair is from the increment — FREE at candidate
    build time (the join branch knows which side it came from), where
    reconstructing membership downstream costs two joins against the
    increment's id set (the gate's drop set used to pay exactly that).

    ``small_increment=True`` (the micro-batch serve path) broadcasts the
    increment-derived frames explicitly — banded rows, candidate set,
    half-joined pairs. foreachBatch disables AQE, so without the hints
    every one of these joins would shuffle the full index; with them the
    index is only ever scanned, never exchanged. Pass ``False`` for
    batch backfills whose increment is NOT broadcast-sized (the banded
    increment is rows × bands plus k-long sigs): the joins then fall
    back to shuffle plans that degrade gracefully — and in batch mode
    AQE still broadcasts at runtime whenever the increment turns out
    small enough.

    ``small_increment=None`` (the default) is broadcast-safe BY
    CONSTRUCTION — the r9 sf1 bench proved the old ``True`` default's
    failure mode (a half-corpus increment pinned ~0.9 GB onto the driver
    and OOMed, PERF-NOTES 44), and trusting every caller to know that
    contract is a footgun. Auto resolution: with AQE enabled the static
    hints are simply dropped — AQE promotes the joins to broadcast at
    runtime from MEASURED increment stats, which is strictly safer than
    a compile-time pin. With AQE disabled (no runtime re-plan exists to
    save the join), the increment is counted through a pushed-down
    ``limit(bound+1)`` — one bounded job, it never scans past
    ``AUTO_SMALL_INCREMENT_MAX_DOCS+1`` ids — and the hints apply only
    under the bound. Callers that KNOW their increment (the streaming
    gate's micro-batches) keep passing an explicit ``True`` and skip
    the probe job entirely.

    ``exclude_buckets``: the serve-path face of the hot-bucket cap (see
    :func:`capped_bucket_pairs`) — a tiny ``(band, band_hash)`` frame of
    buckets to SKIP on both join sides, typically computed ONCE at index
    build time (:func:`hot_buckets` over the exploded index) and
    persisted alongside it. A boilerplate clique in the index otherwise
    multiplies EVERY increment carrying the same boilerplate (m×n
    candidate rows per hot bucket, every drop); excluding it costs two
    broadcast anti-joins against a by-definition-small frame — no
    per-serve index aggregation. Pairs lost to a hot bucket can still
    surface through the docs' cooler bands, and the exclusion frame
    itself IS the dropped-mass audit (no silent caps).
    """
    new_idx = (
        new_index
        if new_index is not None
        else minhash_index(new_docs, text_col, id_col, num_hashes, bands, shingle_n)
    )
    if small_increment is None:
        aqe = (
            str(
                new_docs.sparkSession.conf.get("spark.sql.adaptive.enabled", "true")
            ).lower()
            == "true"
        )
        if aqe:
            small_increment = False
        else:
            # count whichever increment frame is cheapest: a prebuilt
            # index is one row per doc (and gate callers persist it); raw
            # docs count via a column-pruned id scan. limit() caps the
            # probe at bound+1 rows either way.
            probe = new_index if new_index is not None else new_docs.select(id_col)
            n = probe.limit(AUTO_SMALL_INCREMENT_MAX_DOCS + 1).count()
            small_increment = n <= AUTO_SMALL_INCREMENT_MAX_DOCS
    hint = F.broadcast if small_increment else (lambda df: df)

    def banded(ix: DataFrame, with_sig: bool) -> DataFrame:
        # with_sig=True: sig rides the explode so the verify runs INLINE
        # in the candidate join — one index scan total, no
        # signature-attach join, no candidate groupBy shuffle (r11
        # profile: the attach accounted for most of the 1x gate's
        # drop-set section; see PERF-NOTES). The amplification (sig
        # duplicated per band) is map-local ONLY under the broadcast
        # hint, so the non-hinted path runs with_sig=False and attaches
        # sigs at pair grain below (ADVICE r11).
        cols = [F.col(id_col).alias("id")]
        if with_sig:
            cols.append(F.col("sig"))
        out = ix.select(
            *cols, F.posexplode("band_hashes").alias("band", "band_hash")
        )
        if exclude_buckets is not None:
            out = out.join(
                F.broadcast(exclude_buckets.select("band", "band_hash")),
                ["band", "band_hash"],
                "left_anti",
            )
        return out

    nb, ob = banded(new_idx, small_increment), banded(index, small_increment)
    vs_old = hint(nb).alias("n").join(
        ob.alias("o"),
        (F.col("n.band") == F.col("o.band"))
        & (F.col("n.band_hash") == F.col("o.band_hash")),
    ).select(
        F.least("n.id", "o.id").alias("id_a"),
        F.greatest("n.id", "o.id").alias("id_b"),
        # which side is the increment's is known HERE for free: ids are
        # disjoint, so id_a is new exactly when n took the least slot
        (F.col("n.id") < F.col("o.id")).alias("a_new"),
        (F.col("n.id") > F.col("o.id")).alias("b_new"),
        *(
            [est_jaccard(F.col("n.sig"), F.col("o.sig")).alias("est_jaccard")]
            if small_increment
            else []
        ),
    )
    vs_new = nb.alias("x").join(
        hint(nb).alias("y"),
        (F.col("x.band") == F.col("y.band"))
        & (F.col("x.band_hash") == F.col("y.band_hash"))
        & (F.col("x.id") < F.col("y.id")),
    ).select(
        F.col("x.id").alias("id_a"),
        F.col("y.id").alias("id_b"),
        F.lit(True).alias("a_new"),
        F.lit(True).alias("b_new"),
        *(
            [est_jaccard(F.col("x.sig"), F.col("y.sig")).alias("est_jaccard")]
            if small_increment
            else []
        ),
    )
    out = vs_old.unionByName(vs_new)
    if not small_increment:
        # attach-at-pair-grain path: distinct FIRST (multi-band duplicate
        # candidates would multiply the attach joins), then one id
        # equi-join per side against the doc-grain sig frames — the sig
        # table shuffles once at doc grain instead of bands× amplified
        # through the candidate join. est_jaccard is computed per unique
        # pair, so the dedupe-placement trade below is already settled
        # on this path (output uniqueness contract unchanged).
        out = out.distinct()
        sig_of = lambda ix: ix.select(  # noqa: E731
            F.col(id_col).alias("_sid"), F.col("sig").alias("_sig")
        )
        # ids are disjoint between index and increment (documented
        # contract), so the union is one doc-grain sig table
        sigs = sig_of(new_idx).unionByName(sig_of(index))
        out = (
            out.join(sigs, F.col("id_a") == F.col("_sid"))
            .withColumnRenamed("_sig", "_sig_a")
            .drop("_sid")
            .join(sigs, F.col("id_b") == F.col("_sid"))
            .withColumnRenamed("_sig", "_sig_b")
            .drop("_sid")
            .withColumn("est_jaccard", est_jaccard(F.col("_sig_a"), F.col("_sig_b")))
            .drop("_sig_a", "_sig_b")
        )
    # multi-band duplicates carry identical est_jaccard (same sig pair),
    # so a row distinct collapses them wherever it runs. ``dedupe=True``
    # keeps the old formulation's placement (BEFORE the threshold — worth
    # its earlier shuffle only when heavy multi-band candidate duplication
    # precedes a cheap threshold); the default gate path dedupes AFTER, at
    # verified-pair grain, the cheapest point. Output pairs are unique
    # either way — the flag's documented contract is unchanged.
    elif dedupe:
        out = out.distinct()
    if threshold is not None:
        out = out.where(F.col("est_jaccard") >= threshold)
    cols = ["id_a", "id_b"] + (["a_new", "b_new"] if tag_new else [])
    out = out.select(*cols, "est_jaccard")
    return out if dedupe or not small_increment else out.distinct()


def fuzzy_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str = "doc_id",
    max_dist: int = 2,
    band_width: int | None = None,
    include_exact: bool = False,
) -> DataFrame:
    """Edit-distance near-dup pairs — the record-linkage member of the
    dedup family: ``(id_a, id_b, dist)`` (id_a < id_b) for every blocked
    pair with ``levenshtein ≤ max_dist``.

    Blocking (part of the operator's SPEC, mirrored by the oracle, so
    results are exact *given the blocking*): candidates share the first
    whitespace token AND sit in the same or an adjacent length band
    (``band_width`` defaults to ``max_dist + 1``, so a ≤ max_dist length
    change can cross at most one band boundary — banded adjacency loses
    no same-first-token pair). Pairs whose edits change the first token
    escape the block; that is the standard linkage-blocking trade and is
    documented rather than hidden.

    ``include_exact=False`` (default) reports true near-misses only
    (``1 ≤ dist``): exact duplicates are ``exact_dedup``'s job, and on a
    corpus with heavy verbatim duplication they swamp the output with
    quadratic same-name pairs.

    Plan shape at scale: the lower-id side explodes to its three
    adjacent bands (map-side ×3) and equi-joins on (first_token, band) —
    a bucketed join, never corpus×corpus; each unordered pair meets on
    exactly ONE key (the right side's own band), so no distinct pass.
    The ≤ max_dist length prefilter is codegen'd and cheap; levenshtein
    (quadratic per pair) runs only on blocked survivors.
    """
    if band_width is None:
        band_width = max_dist + 1
    s = F.col(text_col)
    # first token via the family's shared tokenizer (tokens() filters the
    # empty string), so an empty/whitespace-only input blocks to NULL and
    # drops out of the equi-join — the DuckDB oracle's list_filter(...)[1]
    # yields NULL for the same inputs, keeping the "oracle mirrors the
    # blocking exactly" contract on edge rows. try_element_at: the token
    # array CAN be empty here and ANSI element_at would throw.
    base = df.select(
        F.col(id_col).alias("id"),
        s.alias("s"),
        F.try_element_at(tokens(s), F.lit(1)).alias("w"),
        (F.length(s) / band_width).cast("long").alias("band"),
    )
    a = base.select(
        F.col("id").alias("id_a"),
        F.col("s").alias("s_a"),
        "w",
        F.explode(
            F.array(F.col("band") - 1, F.col("band"), F.col("band") + 1)
        ).alias("band"),
    )
    b = base.select(
        F.col("id").alias("id_b"), F.col("s").alias("s_b"), "w", "band"
    )
    return (
        a.join(b, ["w", "band"])
        .where(
            (F.col("id_a") < F.col("id_b"))
            & (F.abs(F.length("s_a") - F.length("s_b")) <= max_dist)
        )
        .select(
            "id_a",
            "id_b",
            # THRESHOLDED levenshtein (Spark ≥3.5): the banded algorithm
            # touches ~len·(2k+1) cells instead of the full len² matrix
            # and returns −1 past the threshold; every KEPT row's value
            # equals the exact distance, so the oracle (full levenshtein
            # + the same ≤ max_dist filter) is unchanged. Measured at the
            # sf1 dir: wall time is UNCHANGED (991 s vs 916 s on a ~1.2×
            # slower host) — the blocked join's pair shuffle dominates,
            # not the DP — but the per-pair cell count drops ~50× at
            # max_dist=2, which is the term that grows with document
            # length at production scale.
            F.levenshtein("s_a", "s_b", int(max_dist)).alias("dist"),
        )
        .where(
            (F.col("dist") >= (0 if include_exact else 1))
        )
    )
