"""Dedup family: exact keeps lowest id; MinHash-LSH finds planted near-dups
and agrees with exact Jaccard; SimHash buckets exact dups together."""

from __future__ import annotations

from pyspark.sql import functions as F

from feasibility_etl_spark.operators.dedup import (
    blocked_jaccard_pairs,
    exact_dedup,
    exact_dup_groups,
    incremental_near_dups,
    minhash_candidates,
    minhash_index,
    near_dup_pairs,
    simhash_candidates,
)
from feasibility_etl_spark.sources.catalog import load

from conftest import SF0001

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches the "
    "birds fly south for winter and the river flows quietly past the old mill"
)
NEAR = BASE.replace("quietly", "silently")  # one-word edit → high jaccard
OTHER = (
    "completely different content about database engines query optimization "
    "and distributed systems running on large clusters with many executors"
)


def docs(spark):
    rows = [
        (1, BASE, "en", "s1"),
        (2, BASE, "en", "s1"),        # exact dup of 1
        (3, NEAR, "en", "s1"),        # near dup of 1
        (4, OTHER, "en", "s1"),
        (5, "UPPER case! Punct... " + BASE, "en", "s1"),  # normalizes near 1
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")


def test_exact_dedup_keeps_lowest_id(spark):
    out = exact_dedup(docs(spark))
    assert sorted(r.doc_id for r in out.collect()) == [1, 3, 4, 5]


def test_exact_dup_groups_report(spark):
    groups = {r.keep_id: r.group_size for r in exact_dup_groups(docs(spark)).collect()}
    assert groups[1] == 2  # docs 1+2 share a fingerprint
    assert groups[4] == 1


def test_minhash_finds_planted_near_dup(spark):
    cands = {(r.id_a, r.id_b) for r in minhash_candidates(docs(spark)).collect()}
    assert (1, 2) in cands  # exact dup always a candidate
    assert (1, 3) in cands  # near dup should share a band
    verified = {(r.id_a, r.id_b): r.jaccard for r in near_dup_pairs(docs(spark), threshold=0.5).collect()}
    assert verified[(1, 2)] == 1.0
    assert 0.5 <= verified[(1, 3)] < 1.0
    assert (1, 4) not in verified  # unrelated text filtered


def test_blocked_jaccard_matches_set_math(spark):
    out = {
        (r.id_a, r.id_b): r.jaccard_sim
        for r in blocked_jaccard_pairs(docs(spark), ["lang", "source"], threshold=0.1).collect()
    }
    a, b = set(BASE.lower().split()), set(NEAR.lower().split())
    expected = len(a & b) / len(a | b)
    assert abs(out[(1, 3)] - expected) < 1e-12
    assert out[(1, 2)] == 1.0


def test_blocked_jaccard_unhinted_fallback_same_result(spark, monkeypatch):
    """Round-8 ADVICE fix: past MAX_BROADCAST_BLOCKS the routing table
    joins WITHOUT the broadcast hint (AQE decides) instead of
    broadcasting an unbounded per-block aggregate. Forcing the bound to
    0 exercises the fallback branch; results must be bit-identical."""
    from feasibility_etl_spark.operators import dedup as dedup_mod

    hinted = {
        (r.id_a, r.id_b): r.jaccard_sim
        for r in blocked_jaccard_pairs(
            docs(spark), ["lang", "source"], threshold=0.1
        ).collect()
    }
    monkeypatch.setattr(dedup_mod, "MAX_BROADCAST_BLOCKS", 0)
    unhinted = {
        (r.id_a, r.id_b): r.jaccard_sim
        for r in blocked_jaccard_pairs(
            docs(spark), ["lang", "source"], threshold=0.1
        ).collect()
    }
    assert unhinted == hinted and hinted


def test_blocked_jaccard_branch_gate_parity_all_routings(spark):
    """r13: ``branch_gate=True`` measures the per-block routing table at
    construction and builds only the branch(es) the costs route to.
    Results must be bit-identical to the lazy two-branch plan in every
    routing outcome: all-small (default bound), all-big (bound forced to
    -1 so every block routes prefix), and mixed (bound between the two
    block costs so one block routes each way)."""
    lazy = {
        (r.id_a, r.id_b): r.jaccard_sim
        for r in blocked_jaccard_pairs(
            docs(spark), ["lang", "source"], threshold=0.1
        ).collect()
    }
    assert lazy
    # per-block costs differ (the en/web block carries the shared-token
    # docs): pick a mixed bound strictly between min and max
    from feasibility_etl_spark.operators.text import tokens as _tokens

    costs = sorted(
        r._cost
        for r in docs(spark)
        .select("lang", "source", F.explode(
            F.array_distinct(_tokens(F.lower(F.trim(F.col("text")))))
        ).alias("tok"))
        .groupBy("lang", "source", "tok")
        .agg(F.count(F.lit(1)).alias("_df"))
        .groupBy("lang", "source")
        .agg(F.sum(F.col("_df") * (F.col("_df") - 1) / 2).cast("long").alias("_cost"))
        .collect()
    )
    bounds = {
        "all_small": None,  # default ADAPTIVE bound: everything routes small
        "all_big": -1,  # every block over the bound: prefix only
    }
    if costs[0] < costs[-1]:
        bounds["mixed"] = int(costs[0])  # min routes small, max routes big
    for name, bound in bounds.items():
        kwargs = {"threshold": 0.1, "branch_gate": True}
        if bound is not None:
            kwargs["allpairs_max_pairs"] = bound
        gated = {
            (r.id_a, r.id_b): r.jaccard_sim
            for r in blocked_jaccard_pairs(
                docs(spark), ["lang", "source"], **kwargs
            ).collect()
        }
        assert gated == lazy, f"branch_gate routing {name} diverged"


def test_blocked_jaccard_branch_gate_all_small_releases_gate_persists(
    spark, monkeypatch
):
    """The all-small gated plan reads only the token table, so the
    (block, tok) df table and the block-cost table must leave the
    session's cache manager right after the gate, while the returned
    frame is still alive."""
    from pyspark import StorageLevel

    from feasibility_etl_spark.plans.compose import StageCache

    persisted = []
    real_call = StageCache.__call__

    def spy(self, df, storage_level=None):
        out = real_call(self, df, storage_level)
        persisted.append(out)
        return out

    monkeypatch.setattr(StageCache, "__call__", spy)
    out = blocked_jaccard_pairs(
        docs(spark), ["lang", "source"], threshold=0.1, branch_gate=True
    )
    toks, df_tok, block_cost = persisted
    none = StorageLevel.NONE
    assert df_tok.storageLevel == none and block_cost.storageLevel == none
    assert toks.storageLevel != none
    assert out.count() > 0


def test_simhash_buckets_exact_dups(spark):
    cands = {(r.id_a, r.id_b) for r in simhash_candidates(docs(spark)).collect()}
    assert (1, 2) in cands  # identical text → identical signature → all bands match


def test_connected_components_matches_union_find(spark):
    import random

    from feasibility_etl_spark.operators.dedup import connected_components

    def reference(edges):
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            parent[find(a)] = find(b)
        comps = {}
        for n in parent:
            comps.setdefault(find(n), set()).add(n)
        return {m: min(members) for members in comps.values() for m in members}

    # random graphs (60 nodes/50 edges, 80 nodes/70 edges) → several
    # nontrivial components each
    for seed, n_nodes, n_edges in [(7, 60, 50), (13, 80, 70)]:
        rng = random.Random(seed)
        edges = {
            (rng.randint(0, n_nodes - 1), rng.randint(0, n_nodes - 1))
            for _ in range(n_edges)
        }
        edges = [(min(a, b), max(a, b)) for a, b in edges if a != b]
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        got = {
            r.doc_id: r.component_id for r in connected_components(pairs).collect()
        }
        assert got == reference(edges), f"seed {seed}"


def test_connected_components_driver_and_distributed_paths_agree(spark):
    """The labels must not depend on how the pairs are partitioned: the
    whole graph in one task's union-find (all contraction before the
    merge) and the graph spread over many tasks (the merge does most of
    the unioning) give identical (doc_id, component_id) sets."""
    import random

    from feasibility_etl_spark.operators.dedup import connected_components

    rng = random.Random(13)
    edges = {(rng.randint(0, 79), rng.randint(0, 79)) for _ in range(70)}
    edges = [(min(a, b), max(a, b)) for a, b in edges if a != b]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")

    def labels(df):
        return {
            (r.doc_id, r.component_id) for r in connected_components(df).collect()
        }

    one_task = labels(pairs.coalesce(1))
    many_tasks = labels(pairs.repartition(16))
    assert one_task == many_tasks and len(one_task) > 0
    assert labels(pairs) == one_task


def test_connected_components_cross_partition_root_merge(spark):
    """Worst case for the per-partition contraction: a single long chain
    with every edge in its OWN partition, so no local union-find sees
    more than one edge and correctness rests entirely on the merge."""
    from feasibility_etl_spark.operators.dedup import connected_components

    n = 33
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    ).repartition(n - 1)  # ≈ one edge per task
    # building the frame runs no job and persists nothing
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    spark.range(1).count()  # settle async job bookkeeping
    base_jobs = scheduler.nextJobId()
    comps = connected_components(pairs)
    assert scheduler.nextJobId() == base_jobs
    assert "InMemory" not in comps._jdf.queryExecution().executedPlan().toString()
    got = {r.doc_id: r.component_id for r in comps.collect()}
    assert got == {i: 0 for i in range(n)}


def test_connected_components_chain_transitivity(spark):
    from feasibility_etl_spark.operators.dedup import connected_components

    # path graph 0-1-2-...-9: worst-case diameter
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "id_a long, id_b long"
    )
    rows = connected_components(pairs).collect()
    assert {r.component_id for r in rows} == {0}
    assert len(rows) == 10


def test_adaptive_routing_strategies_agree(spark):
    """The per-block adaptive candidate stage must produce the SAME exact
    pair set whichever way blocks route: pure all-pairs (cutoff ∞), pure
    prefix (cutoff 0), and a MIXED cutoff that provably splits the blocks
    (some Σ C(df,2) above it, some below) — both generators are complete
    and the verify is authoritative, so results are identical."""
    from feasibility_etl_spark.operators.dedup import blocked_jaccard_pairs
    from feasibility_etl_spark.operators.text import tokens as tok_fn

    corpus = load(spark, SF0001, "documents").limit(400)

    def pairs(cutoff):
        return {
            (r.id_a, r.id_b, round(r.jaccard_sim, 9))
            for r in blocked_jaccard_pairs(
                corpus, ["lang", "source"], threshold=0.2,
                allpairs_max_pairs=cutoff,
            ).collect()
        }

    # pick a cutoff strictly inside the observed block-cost range so the
    # mixed run genuinely exercises BOTH branches
    toks = corpus.select(
        "doc_id", "lang", "source",
        F.explode(F.array_distinct(tok_fn(F.lower(F.trim(F.col("text")))))).alias("t"),
    )
    costs = sorted(
        r.c
        for r in toks.groupBy("lang", "source", "t")
        .agg(F.count(F.lit(1)).alias("d"))
        .groupBy("lang", "source")
        .agg(F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("long").alias("c"))
        .collect()
    )
    assert len(costs) >= 2 and costs[0] < costs[-1]
    mid = (costs[0] + costs[-1]) // 2

    all_pairs, prefix, mixed = pairs(10**18), pairs(0), pairs(mid)
    assert all_pairs == prefix
    assert mixed == all_pairs
    assert all_pairs  # non-degenerate: the fixture yields real near-dups


def test_prune_components_keeps_representatives_and_singletons(spark):
    from feasibility_etl_spark.operators.dedup import prune_components

    corpus = docs(spark)
    pairs = blocked_jaccard_pairs(corpus, ["lang", "source"], threshold=0.2)
    kept = sorted(r.doc_id for r in prune_components(corpus, pairs).collect())
    # {1,2,3,5} form one near-dup component (keeper 1); 4 is untouched
    assert kept == [1, 4]


class TestIncrementalMinhash:
    def test_candidates_match_batch_lsh_on_union_corpus(self, spark):
        docs = load(spark, SF0001, "documents")
        old = docs.where("doc_id % 2 = 0")
        new = docs.where("doc_id % 2 = 1")
        idx = minhash_index(old)
        inc = {
            (r.id_a, r.id_b)
            for r in incremental_near_dups(new, idx, threshold=None).collect()
        }
        batch = minhash_candidates(docs)
        new_ids = {r.doc_id for r in new.select("doc_id").collect()}
        expected = {
            (r.id_a, r.id_b)
            for r in batch.collect()
            if r.id_a in new_ids or r.id_b in new_ids
        }
        assert inc == expected  # same banding -> exactly the same candidates

    def test_identical_cross_batch_doc_estimates_one(self, spark):
        old = spark.createDataFrame(
            [(1, "alpha beta gamma delta epsilon zeta eta theta")],
            "doc_id long, text string",
        )
        new = spark.createDataFrame(
            [(2, "alpha beta gamma delta epsilon zeta eta theta"),
             (3, "completely different words about other things entirely now")],
            "doc_id long, text string",
        )
        rows = incremental_near_dups(new, minhash_index(old), threshold=0.9).collect()
        assert [(r.id_a, r.id_b, r.est_jaccard) for r in rows] == [(1, 2, 1.0)]

    def test_index_roundtrips_through_parquet(self, spark, tmp_path):
        docs = load(spark, SF0001, "documents")
        old = docs.where("doc_id % 2 = 0")
        new = docs.where("doc_id % 2 = 1")
        path = str(tmp_path / "mh_index")
        minhash_index(old).write.parquet(path)
        served = incremental_near_dups(new, spark.read.parquet(path))
        direct = incremental_near_dups(new, minhash_index(old))
        assert sorted(map(tuple, served.collect())) == sorted(map(tuple, direct.collect()))


def test_fuzzy_pairs_blocked_edit_distance(spark):
    from feasibility_etl_spark.operators.dedup import fuzzy_pairs

    df = spark.createDataFrame(
        [
            (1, "acme widget"),
            (2, "acme widget"),    # exact copy of 1 — excluded by default
            (3, "acme widgets"),   # dist 1 from 1/2
            (4, "acme gadget"),    # dist 3 from widget — beyond max_dist
            (5, "zcme widget"),    # first token differs — escapes the block
            (6, "beta rod"),
            (7, "beta rot"),       # dist 1
        ],
        "doc_id long, name string",
    )
    got = {
        (r.id_a, r.id_b): r.dist
        for r in fuzzy_pairs(df, "name", max_dist=1).collect()
    }
    assert got == {(1, 3): 1, (2, 3): 1, (6, 7): 1}
    # include_exact brings the verbatim pair back at dist 0
    withx = {
        (r.id_a, r.id_b): r.dist
        for r in fuzzy_pairs(df, "name", max_dist=1, include_exact=True).collect()
    }
    assert withx[(1, 2)] == 0 and (1, 3) in withx
    # adjacent length bands: a 1-char length difference across a band
    # boundary is still found (band_width=2: len 8 -> band 4, len 9 -> 4;
    # craft lens 9 vs 10 -> bands 4,5)
    df2 = spark.createDataFrame(
        [(10, "ab cdefgh"), (11, "ab cdefghi")], "doc_id long, name string"
    )
    assert fuzzy_pairs(df2, "name", max_dist=1).count() == 1


# ------------------------------------------------------------- line dedup

_BANNER = "Cookie notice: we use cookies"
_FOOTER = "(c) Example Corp"


def _line_docs(spark):
    from feasibility_etl_spark.operators.dedup import line_dedup  # noqa: F401

    rows = [
        (1, f"{_BANNER}\nunique body one\n\n{_FOOTER}"),
        (2, f"{_BANNER}\nunique body two\n{_FOOTER}"),
        (3, f"{_BANNER.upper()}  \nunique body three\nshared tail"),
        (4, "solo doc\nshared tail"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_line_dedup_drop_common(spark):
    from feasibility_etl_spark.operators.dedup import line_dedup

    out = {r.doc_id: r for r in line_dedup(_line_docs(spark)).collect()}
    # banner appears in 3 docs (case/whitespace-insensitively), footer in 2,
    # 'shared tail' in 2 -> all dropped everywhere; bodies and the empty
    # line survive
    assert out[1].text == "unique body one\n"
    assert (out[1].n_lines, out[1].n_kept) == (4, 2)
    assert out[2].text == "unique body two"
    assert out[3].text == "unique body three"
    assert out[4].text == "solo doc"
    assert (out[4].n_lines, out[4].n_kept) == (2, 1)


def test_line_dedup_min_docs_threshold(spark):
    from feasibility_etl_spark.operators.dedup import line_dedup

    out = {r.doc_id: r for r in line_dedup(_line_docs(spark), min_docs=3).collect()}
    # only the banner reaches 3 distinct docs; footer (2) and tail (2) stay
    assert out[1].text == f"unique body one\n\n{_FOOTER}"
    assert out[4].text == "solo doc\nshared tail"


def test_line_dedup_keep_first(spark):
    from feasibility_etl_spark.operators.dedup import line_dedup

    out = {
        r.doc_id: r
        for r in line_dedup(_line_docs(spark), mode="keep_first").collect()
    }
    # lowest doc_id keeps each shared line; banner normalizes across case
    assert out[1].text == f"{_BANNER}\nunique body one\n\n{_FOOTER}"
    assert out[2].text == "unique body two"
    assert out[3].text == "unique body three\nshared tail"
    assert out[4].text == "solo doc"


def test_line_dedup_keep_first_retains_in_doc_repeats(spark):
    from feasibility_etl_spark.operators.dedup import line_dedup

    df = spark.createDataFrame(
        [(1, "dup\nmid\ndup"), (2, "dup\nother")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in line_dedup(df, mode="keep_first").collect()}
    # doc 1 is the keeper: both its occurrences survive; doc 2 loses it
    assert out[1].text == "dup\nmid\ndup"
    assert out[2].text == "other"


def test_line_dedup_null_text_and_untouched_passthrough(spark):
    from feasibility_etl_spark.operators.dedup import line_dedup

    df = spark.createDataFrame(
        [(1, None), (2, "only\ndoc"), (3, "shared\nx"), (4, "shared\ny")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in line_dedup(df).collect()}
    # null-text docs have no lines to explode and have always vanished —
    # pinned so the r12 rebuild-from-original-scan path can't resurrect them
    assert set(out) == {2, 3, 4}
    # untouched docs pass through byte-identical, counts intact
    assert out[2].text == "only\ndoc"
    assert (out[2].n_lines, out[2].n_kept) == (2, 2)
    assert out[3].text == "x"
    assert out[4].text == "y"
    assert (out[3].n_lines, out[3].n_kept) == (2, 1)


def test_line_dedup_order_and_empty_doc(spark):
    from feasibility_etl_spark.operators.dedup import line_dedup

    df = spark.createDataFrame(
        [(1, "z\na\nz\na\nmine"), (2, "z\na")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in line_dedup(df).collect()}
    # rebuild preserves original line order (not sort order of content)
    assert out[1].text == "mine"
    assert out[2].text == ""
    assert (out[2].n_lines, out[2].n_kept) == (2, 0)


class TestIncrementalBackfillMode:
    """small_increment=False is the batch-backfill path: the banded
    increment must NOT be force-broadcast (an arbitrarily large backfill
    would OOM the driver), and results must match the broadcast path."""

    def _frames(self, spark):
        docs = load(spark, SF0001, "documents")
        old = docs.where("doc_id % 2 = 0")
        new = docs.where("doc_id % 2 = 1")
        return new, minhash_index(old)

    def test_backfill_plan_has_no_forced_broadcast(self, spark):
        new, idx = self._frames(spark)
        slow = incremental_near_dups(new, idx, small_increment=False)
        fast = incremental_near_dups(new, idx, small_increment=True)
        slow_plan = slow._jdf.queryExecution().optimizedPlan().toString()
        fast_plan = fast._jdf.queryExecution().optimizedPlan().toString()
        # the serve path hints every increment-side join; the backfill
        # path must leave join strategy to the planner/AQE
        assert "ResolvedHint" not in slow_plan and "broadcast" not in slow_plan
        assert "broadcast" in fast_plan
        # ADVICE r11: the backfill path's band join must be UNAMPLIFIED —
        # sig attaches at pair grain, never riding the explode into a
        # potential sort-merge exchange
        for line in slow_plan.splitlines():
            if "posexplode" in line:
                assert "sig#" not in line, line

    def test_backfill_candidates_match_broadcast_path(self, spark):
        new, idx = self._frames(spark)
        fast = {
            (r.id_a, r.id_b, r.est_jaccard)
            for r in incremental_near_dups(
                new, idx, threshold=None, small_increment=True
            ).collect()
        }
        slow = {
            (r.id_a, r.id_b, r.est_jaccard)
            for r in incremental_near_dups(
                new, idx, threshold=None, small_increment=False
            ).collect()
        }
        assert fast == slow and len(fast) > 0

    def test_backfill_matches_with_tags_threshold_and_excludes(self, spark):
        # ADVICE r11: the attach-at-pair-grain fallback must agree with
        # the inline-sig path under EVERY option the gate/serve callers
        # combine — tag_new columns, a real threshold, dedupe=False,
        # and a hot-bucket exclusion frame
        from feasibility_etl_spark.operators.dedup import hot_buckets

        new, idx = self._frames(spark)
        excl = hot_buckets(
            idx.select(
                "doc_id", F.posexplode("band_hashes").alias("band", "band_hash")
            ),
            max_bucket_size=8,
        )
        for kwargs in (
            dict(threshold=0.5, tag_new=True),
            dict(threshold=0.5, tag_new=True, dedupe=False),
            dict(threshold=0.3, tag_new=True, exclude_buckets=excl),
        ):
            fast = {
                (r.id_a, r.id_b, r.a_new, r.b_new, r.est_jaccard)
                for r in incremental_near_dups(
                    new, idx, small_increment=True, **kwargs
                ).collect()
            }
            slow = {
                (r.id_a, r.id_b, r.a_new, r.b_new, r.est_jaccard)
                for r in incremental_near_dups(
                    new, idx, small_increment=False, **kwargs
                ).collect()
            }
            assert fast == slow, kwargs
            assert len(fast) > 0, kwargs


class TestHotBucketCapAndComponents:
    """The boilerplate-clique fixture (VERDICT r9 item 2): banded LSH's
    pair output goes quadratic on replica cliques even when the answer
    (one dup group) is tiny. The cap bounds pair output deterministically
    with an auditable dropped-mass surface; the component-grain mode is
    linear in bucket size and needs no cap at all."""

    N_CLIQUE = 60

    def _corpus(self, spark):
        # one 60-replica boilerplate clique + 6 distinct docs, 3 of which
        # form a small near-dup pair cluster of their own
        rows = [(i, "cookie notice please accept our terms of service today")
                for i in range(self.N_CLIQUE)]
        rows += [
            (100, "alpha bravo charlie delta echo foxtrot golf hotel india"),
            (101, "alpha bravo charlie delta echo foxtrot golf hotel juliet"),
            (102, "alpha bravo charlie delta echo foxtrot golf hotel kilo"),
            (200, "completely different text about quantum chromodynamics"),
            (201, "unrelated prose concerning medieval agriculture methods"),
            (202, "a third standalone document on tidal energy extraction"),
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_cap_drops_hot_buckets_keeps_cool_ones(self, spark):
        from feasibility_etl_spark.operators.dedup import minhash_candidates

        df = self._corpus(spark)
        uncapped = minhash_candidates(df)
        n_unc = uncapped.count()
        # the clique contributes C(60,2) = 1770 pairs
        assert n_unc >= 1770
        capped = minhash_candidates(df, max_bucket_size=10).collect()
        ids = {i for r in capped for i in (r.id_a, r.id_b)}
        # clique pairs are gone (its buckets hold 60 > 10 members in
        # every band); the small 100/101/102 cluster must survive
        assert not any(i < self.N_CLIQUE for i in ids)
        assert {(r.id_a, r.id_b) for r in capped} >= {(100, 101), (100, 102), (101, 102)}
        # determinism: a pure size predicate, not sampling
        again = {(r.id_a, r.id_b) for r in minhash_candidates(
            df, max_bucket_size=10).collect()}
        assert again == {(r.id_a, r.id_b) for r in capped}

    def test_star_edges_are_linear_in_bucket_size(self, spark):
        from feasibility_etl_spark.operators.dedup import (
            _minhash_banded,
            bucket_star_edges,
        )

        df = self._corpus(spark)
        banded = _minhash_banded(df, "text", "doc_id", 32, 8, 3)
        edges = bucket_star_edges(banded, "doc_id")
        # the clique's star grain: 59 distinct edges (identical docs share
        # identical buckets in EVERY band, min is doc 0 everywhere) vs
        # 1770 pairs; total edges ≤ docs × bands by construction
        n_edges = edges.count()
        n_banded = banded.count()
        assert n_edges <= n_banded  # linear bound
        clique_edges = edges.where("id_a < 60 and id_b < 60").count()
        assert clique_edges == self.N_CLIQUE - 1

    def test_prune_by_components_composes_with_star_grain(self, spark):
        from feasibility_etl_spark.operators.dedup import (
            minhash_candidates,
            minhash_components,
            prune_by_components,
            prune_components,
        )

        df = self._corpus(spark)
        via_pairs = {
            r.doc_id for r in prune_components(df, minhash_candidates(df)).collect()
        }
        comps = minhash_components(df)
        via_stars = {
            r.doc_id for r in prune_by_components(df, comps).collect()
        }
        assert via_stars == via_pairs
        # the clique keeps exactly its min id
        assert 0 in via_stars and not any(0 < i < self.N_CLIQUE for i in via_stars)
        # best-score policy: make doc 7 the clique's best-quality member
        scored = df.withColumn(
            "score", F.when(F.col("doc_id") == 7, 9.0).otherwise(1.0)
        )
        kept = {
            r.doc_id
            for r in prune_by_components(
                scored, minhash_components(scored), score_col="score"
            ).collect()
        }
        assert 7 in kept and 0 not in kept

    def test_components_match_pair_grain_components(self, spark):
        from feasibility_etl_spark.operators.dedup import (
            connected_components,
            minhash_candidates,
            minhash_components,
        )

        df = self._corpus(spark)
        via_pairs = {
            (r.doc_id, r.component_id)
            for r in connected_components(minhash_candidates(df)).collect()
        }
        via_stars = {
            (r.doc_id, r.component_id)
            for r in minhash_components(df).collect()
        }
        assert via_stars == via_pairs and len(via_stars) > 0
        # the clique collapses to one component labeled by its min id
        labels = dict(via_stars)
        assert all(labels[i] == 0 for i in range(self.N_CLIQUE))


class TestIncrementalAutoBroadcastSafety:
    """small_increment=None (the default) must be broadcast-safe BY
    CONSTRUCTION: the r9 sf1 bench OOMed on exactly the old default —
    a half-corpus increment with no caller hint pinned ~0.9 GB onto the
    driver (PERF-NOTES 44). Auto mode never statically hints under AQE
    (runtime stats decide), and under AQE-off it hints only below a
    measured increment bound."""

    def _frames(self, spark):
        docs = load(spark, SF0001, "documents")
        old = docs.where("doc_id % 2 = 0")
        new = docs.where("doc_id % 2 = 1")
        return new, minhash_index(old)

    def test_r9_oom_shape_default_args_no_static_hint(self, spark):
        # the exact r9 OOM scenario: half-corpus increment, DEFAULT args.
        # With AQE on (the session default) the plan must carry no
        # compile-time broadcast pin — AQE promotes from measured sizes.
        new, idx = self._frames(spark)
        out = incremental_near_dups(new, idx)
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert "ResolvedHint" not in plan and "broadcast" not in plan

    def test_default_matches_explicit_modes(self, spark):
        new, idx = self._frames(spark)

        def pairs(**kw):
            return {
                (r.id_a, r.id_b, r.est_jaccard)
                for r in incremental_near_dups(
                    new, idx, threshold=None, **kw
                ).collect()
            }

        auto = pairs()
        assert auto == pairs(small_increment=True)
        assert auto == pairs(small_increment=False)
        assert len(auto) > 0

    def test_aqe_off_small_increment_gets_the_hint(self, spark):
        # foreachBatch shape: AQE off, increment under the bound — the
        # serve-path hints must come back (no runtime re-plan will)
        new, idx = self._frames(spark)
        prev = spark.conf.get("spark.sql.adaptive.enabled")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            out = incremental_near_dups(new, idx)
            plan = out._jdf.queryExecution().optimizedPlan().toString()
            assert "broadcast" in plan
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", prev)

    def test_exclude_buckets_skips_boilerplate_on_the_serve_path(self, spark):
        from feasibility_etl_spark.operators.dedup import (
            _minhash_banded,
            hot_buckets,
        )

        boiler = "cookie notice please accept our terms of service today"
        rows = [(i, boiler) for i in range(40)]
        rows += [
            (100, "alpha bravo charlie delta echo foxtrot golf hotel india"),
            (101, "alpha bravo charlie delta echo foxtrot golf hotel juliet"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        old = docs.where("doc_id % 2 = 0")
        new = docs.where("doc_id % 2 = 1")
        # hot buckets computed over the INDEX corpus at build time — the
        # persisted artifact the serve path would load alongside the index
        hot = hot_buckets(
            _minhash_banded(old, "text", "doc_id", 32, 8, 3), max_bucket_size=10
        )
        base = {
            (r.id_a, r.id_b)
            for r in incremental_near_dups(new, minhash_index(old),
                                           threshold=None).collect()
        }
        capped = {
            (r.id_a, r.id_b)
            for r in incremental_near_dups(
                new, minhash_index(old), threshold=None, exclude_buckets=hot
            ).collect()
        }
        # the clique's increment×index explosion is gone; the cool pair
        # (100, 101) survives; nothing NEW appears
        assert (100, 101) in capped
        assert not any(a < 40 and b < 40 for a, b in capped)
        assert any(a < 40 and b < 40 for a, b in base)
        assert capped <= base

    def test_aqe_off_large_increment_does_not_hint(self, spark, monkeypatch):
        from feasibility_etl_spark.operators import dedup as dedup_mod

        new, idx = self._frames(spark)
        monkeypatch.setattr(dedup_mod, "AUTO_SMALL_INCREMENT_MAX_DOCS", 3)
        prev = spark.conf.get("spark.sql.adaptive.enabled")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            out = incremental_near_dups(new, idx)
            plan = out._jdf.queryExecution().optimizedPlan().toString()
            assert "ResolvedHint" not in plan and "broadcast" not in plan
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", prev)


class TestSubstringDedup:
    SPAN = "alpha bravo charlie delta echo foxtrot golf hotel"  # 8 tokens

    def _run(self, spark, rows, k=8):
        from feasibility_etl_spark.operators.dedup import substring_dedup

        df = spark.createDataFrame(rows, "doc_id long, text string")
        return {
            r.doc_id: (r.text, r.n_tok, r.n_removed)
            for r in substring_dedup(df, k=k).collect()
        }

    def test_canonical_keeps_copies_lose(self, spark):
        out = self._run(spark, [
            (1, f"intro one two {self.SPAN} closing words here"),
            (2, f"different opening {self.SPAN} and a different tail"),
            (3, "entirely unique text with no repeated spans at all ok"),
        ])
        assert out[1] == (
            f"intro one two {self.SPAN} closing words here", 14, 0)
        assert out[2] == ("different opening and a different tail", 14, 8)
        assert out[3][2] == 0

    def test_intra_doc_repeat_removed(self, spark):
        out = self._run(spark, [
            (1, f"repeat test {self.SPAN} middle filler {self.SPAN} done"),
        ])
        # second in-doc occurrence removed, first (canonical) kept
        assert out[1] == (
            f"repeat test {self.SPAN} middle filler done", 21, 8)

    def test_maximal_span_longer_than_k_fully_removed(self, spark):
        long_span = self.SPAN + " india juliet"   # 10 tokens, k=8
        out = self._run(spark, [
            (1, f"first {long_span} end"),
            (2, f"second copy {long_span} trailing"),
        ])
        assert out[2] == ("second copy trailing", 13, 10)

    def test_string_and_huge_bigint_ids(self, spark):
        """The canonical-occurrence key is struct ordering, not long
        packing: string ids must dedup (a cast-to-long key NULLs out and
        silently removes nothing), and bigints ≥ 2^31 must not collide."""
        from feasibility_etl_spark.operators.dedup import substring_dedup

        sdf = spark.createDataFrame(
            [("doc-a", f"intro {self.SPAN} ending one"),
             ("doc-b", f"other {self.SPAN} finale two")],
            "doc_id string, text string",
        )
        out = {r.doc_id: r.n_removed for r in substring_dedup(sdf, k=8).collect()}
        assert out == {"doc-a": 0, "doc-b": 8}  # 'doc-a' < 'doc-b' canonical
        big = spark.createDataFrame(
            [(1 << 40, f"intro {self.SPAN} ending one"),
             ((1 << 40) + 1, f"other {self.SPAN} finale two")],
            "doc_id long, text string",
        )
        outb = {r.doc_id: r.n_removed for r in substring_dedup(big, k=8).collect()}
        assert outb == {1 << 40: 0, (1 << 40) + 1: 8}

    def test_case_insensitive_match_rebuilds_original_case(self, spark):
        out = self._run(spark, [
            (1, f"aa {self.SPAN} bb"),
            (2, "cc " + self.SPAN.upper() + " dd"),
        ])
        assert out[1][2] == 0
        assert out[2] == ("cc dd", 10, 8)

    def test_sub_k_overlap_untouched(self, spark):
        seven = "alpha bravo charlie delta echo foxtrot golf"  # 7 < k
        out = self._run(spark, [
            (1, f"one {seven} tail a"),
            (2, f"two {seven} stop b x"),  # longest shared span = 7 tokens
        ])
        assert out[1][2] == 0 and out[2][2] == 0

    def test_whitespace_normalized_and_tail_clamp(self, spark):
        """r12 split-branch internals: untouched docs rebuild through the
        pure-JVM branch (must still whitespace-normalize, the rebuild
        convention), and a duplicated span ending exactly at the doc tail
        exercises the Python branch's interval clamp (min(s+k, n))."""
        out = self._run(spark, [
            (1, "solo\tdoc   with    odd whitespace only"),
            (2, f"lead in {self.SPAN}"),
            (3, f"other intro {self.SPAN}"),  # span ends at position n-1
        ])
        assert out[1] == ("solo doc with odd whitespace only", 6, 0)
        assert out[2][2] == 0  # canonical (lower doc_id, same pos) keeps
        assert out[3] == ("other intro", 10, 8)


def test_prune_components_keep_best_score(spark):
    from feasibility_etl_spark.operators.dedup import (
        blocked_jaccard_pairs,
        prune_components,
    )

    rows = [
        (1, "alpha beta gamma delta epsilon zeta", "en", "s0", 10),
        (2, "alpha beta gamma delta epsilon zeta eta theta", "en", "s0", 99),
        (3, "unrelated totally different words here now", "en", "s0", 5),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    pairs = blocked_jaccard_pairs(df, ["lang", "source"], threshold=0.5)
    # min-id policy keeps doc 1; score policy keeps the higher-n_chars doc 2
    kept_min = sorted(r.doc_id for r in prune_components(df, pairs).collect())
    kept_best = sorted(
        r.doc_id
        for r in prune_components(df, pairs, score_col="n_chars").collect()
    )
    assert kept_min == [1, 3]
    assert kept_best == [2, 3]


def test_blocked_jaccard_prefix_filter_matches_bruteforce(spark):
    """The prefix-filtered candidate stage (Bayardo All-Pairs / PPJoin
    prefix |d|−⌈t·|d|⌉+1, rarest-first order) must be COMPLETE: against a
    randomized corpus with heavy stopword overlap (the worst case for the
    old quadratic token join and the easiest place to lose a pair), every
    threshold tier must reproduce the brute-force all-pairs result
    exactly — same pairs, same similarity values."""
    import itertools
    import random

    rng = random.Random(0xD06)
    stop = ["the", "a", "of", "and", "to", "in", "is", "it"]
    rare = [f"w{i}" for i in range(120)]
    rows = []
    for i in range(60):
        # every doc shares the stopword core; rare tail varies
        n_rare = rng.randint(1, 12)
        words = stop[: rng.randint(4, 8)] + rng.sample(rare, n_rare)
        # plant explicit near-dups: clone the previous doc with one edit
        if i % 7 == 3 and rows:
            words = rows[-1][1].split()[:-1] + [rng.choice(rare)]
        rng.shuffle(words)
        rows.append((i, " ".join(words), "en", f"s{i % 2}"))
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")

    def brute(threshold):
        toks = {i: set(t.lower().split()) for i, t, _, _ in rows}
        blk = {i: (lang, src) for i, _, lang, src in rows}
        out = {}
        for x, y in itertools.combinations(sorted(toks), 2):
            if blk[x] != blk[y]:
                continue
            j = len(toks[x] & toks[y]) / len(toks[x] | toks[y])
            if j >= threshold:
                out[(x, y)] = j
        return out

    for t in (0.0, 0.15, 0.35, 0.6, 0.9):
        got = {
            (r.id_a, r.id_b): r.jaccard_sim
            for r in blocked_jaccard_pairs(
                df, ["lang", "source"], threshold=t
            ).collect()
        }
        want = brute(t)
        assert set(got) == set(want), (t, set(want) - set(got), set(got) - set(want))
        for k, v in want.items():
            assert abs(got[k] - v) < 1e-12

