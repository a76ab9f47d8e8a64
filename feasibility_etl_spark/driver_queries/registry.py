"""The query registry: every op id maps to its query function and its
DuckDB oracle SQL, or ``None`` for a rows-only op (seeded xxhash64 bands,
hyperplanes or iterative k-means, which no SQL can replay; tests pin those
by recall or equivalence instead).

Everything else is derived from ``REGISTRY``: the driver's window is a
declared selection of ids, and ``QUERIES``/``ORACLES`` (the window) and
``ALL_QUERIES``/``ALL_ORACLES`` (every id) are views of it. COVERAGE.md
maps each SURVEY operator to the id and columns that carry it.
"""

from __future__ import annotations

from ._shared import QueryFn
from .core_relational import ORACLE_A_COLLECT, ORACLE_A_COUNT, ORACLE_A_HSUM, ORACLE_A_WORKLOG, ORACLE_E_DROP, ORACLE_E_GATE, ORACLE_E_ISOLATE, ORACLE_F_DATEOPS, ORACLE_J_ATTACH, ORACLE_J_DIM_REPORTER, ORACLE_J_LOOKUP_INSERT, ORACLE_J_MULTIWAY, ORACLE_P_FILTER, ORACLE_P_PROJECT, ORACLE_SCAN_CAPS, ORACLE_SEMI_FAMILY, ORACLE_SINK_SUITE, ORACLE_S_JDBC_SINK, q_a_collect, q_a_count, q_a_hsum, q_a_worklog, q_e_drop, q_e_gate, q_e_isolate, q_f_dateops, q_j_attach, q_j_dim_reporter, q_j_lookup_insert, q_j_multiway, q_p_filter, q_p_project, q_s_csv, q_s_jsonl, q_s_orc, q_scan_caps, q_semi_family, q_sink_suite
from .views_dedup_corpus import ORACLE_CORPUS_CONTAMSCORE, ORACLE_CORPUS_DECONTAM, ORACLE_CORPUS_DECONTAM_COMBINED, ORACLE_CORPUS_PACK, ORACLE_CORPUS_SAMPLEK, ORACLE_CORPUS_SPLIT, ORACLE_DEDUP_CAPPED, ORACLE_DEDUP_CAPPED_AUDIT, ORACLE_DEDUP_COMPONENTS, ORACLE_DEDUP_EXACT, ORACLE_DEDUP_EXACT_DOC, ORACLE_DEDUP_FUZZY, ORACLE_DEDUP_NGRAM, ORACLE_DEDUP_PRUNE, ORACLE_DEDUP_PRUNE_BEST, ORACLE_DEDUP_STARPRUNE, ORACLE_DEDUP_SUBSTRING, ORACLE_LINE_DEDUP, ORACLE_LINE_DEDUP_KEEPFIRST, ORACLE_SKETCH_BLOOM, ORACLE_TEXT_CLEAN, ORACLE_VIEW_CTE, ORACLE_VIEW_IDIOMATIC, ORACLE_WIN_RESAMPLE, ORACLE_WIN_SESSION, ORACLE_WIN_SLIDE, q_corpus_contamscore, q_corpus_decontam, q_corpus_decontam_bloom, q_corpus_decontam_combined, q_corpus_pack, q_corpus_samplek, q_corpus_split, q_dedup_capped, q_dedup_capped_audit, q_dedup_components, q_dedup_exact, q_dedup_exact_doc, q_dedup_fuzzy, q_dedup_incr, q_dedup_minhash, q_dedup_minhash_comp, q_dedup_ngram, q_dedup_prune, q_dedup_prune_best, q_dedup_simhash, q_dedup_starprune, q_dedup_substring, q_line_dedup, q_line_dedup_keepfirst, q_sketch_bloom, q_text_clean, q_view_cte, q_view_idiomatic, q_win_resample, q_win_session, q_win_slide
from .similarity_text import ORACLE_A_PIVOT, ORACLE_A_SALTED, ORACLE_J_SALTED, ORACLE_SIM_BQ, ORACLE_SIM_BQRR, ORACLE_SIM_TOPK, ORACLE_TEXT_FINGERPRINT, ORACLE_TEXT_LANGID, ORACLE_TEXT_NORMALIZE, ORACLE_TEXT_QUALITY, ORACLE_TEXT_TOKENS, q_a_pivot, q_a_salted, q_emb_neardup, q_j_salted, q_sim_bq, q_sim_bqrr, q_sim_ivf, q_sim_ivf_append, q_sim_ivf_recluster, q_sim_ivfbq, q_sim_ivfpq, q_sim_lsh, q_sim_lsh_qd, q_sim_pq, q_sim_topk, q_text_fingerprint, q_text_langid, q_text_normalize, q_text_quality, q_text_tokens
from .pipelines_joins import ORACLE_ASOF, ORACLE_EMB_QUANT, ORACLE_MM_AUDIO, ORACLE_MM_FRAMES, ORACLE_MM_IMAGE, ORACLE_MM_RESIZE, ORACLE_PIPE_CORPUS, ORACLE_PIPE_DOCS, ORACLE_PIPE_EVENTS, ORACLE_PIPE_FAMILY, ORACLE_RANGE_JOIN, ORACLE_TEXT_WINNOW, q_asof, q_emb_quant, q_mm_audio, q_mm_frames, q_mm_image, q_mm_resize, q_pipe_corpus, q_pipe_corpus_components, q_pipe_docs, q_pipe_events, q_pipe_family, q_range_join, q_text_winnow
from .combined_entries import ORACLE_CORPUS_ASSIGN, ORACLE_CORPUS_DSIR, ORACLE_CORPUS_NOVELTY, ORACLE_E_AUDIT, ORACLE_E_PROFILE, ORACLE_F_CUSTOMER_WIDE, ORACLE_F_EVENTS, ORACLE_F_ORDERS, ORACLE_F_SCALAR, ORACLE_J_DIM, ORACLE_QUALITY_KLLGATE, ORACLE_SEARCH_RRF, ORACLE_SEARCH_SUITE, ORACLE_SKETCH_CONTAM, ORACLE_SKETCH_FREQ, ORACLE_SKETCH_HLL, ORACLE_SKETCH_KLL, ORACLE_SKETCH_THETA, ORACLE_TEXT_BM25, ORACLE_TEXT_PROFILE, ORACLE_TEXT_REPETITION, ORACLE_WIN_FIXED, q_corpus_assign, q_corpus_dsir, q_corpus_novelty, q_corpus_packseq, q_e_audit, q_e_profile, q_f_customer_wide, q_f_events, q_f_orders, q_f_scalar, q_j_dim, q_quality_kllgate, q_search_rrf, q_search_suite, q_sketch_contam, q_sketch_contam_scout, q_sketch_freq, q_sketch_hll, q_sketch_kll, q_sketch_theta, q_text_bm25, q_text_profile, q_text_repetition, q_win_fixed
from .media_history import ORACLE_BPE_ENCODE, ORACLE_CLS_GATE, ORACLE_CLS_ROUTE, ORACLE_CLS_SCORE, ORACLE_DEDUP_VERIFY, ORACLE_E_QUANTILE, ORACLE_E_ROBUST, ORACLE_LM_SCORE, ORACLE_MM_MEDIA, ORACLE_MM_VISUAL, ORACLE_SCD2_APPLY, ORACLE_TEXT_CHUNK, ORACLE_TEXT_GOPHER, ORACLE_TEXT_ROWS, ORACLE_TEXT_TFIDF, ORACLE_TEXT_TOPTERMS, ORACLE_UNIGRAM_ENCODE, ORACLE_WP_ENCODE, q_bpe_encode, q_cls_gate, q_cls_route, q_cls_score, q_compress_ratio, q_dedup_candidates, q_dedup_verify, q_e_quantile, q_e_robust, q_lm_score, q_mm_media, q_mm_visual, q_scd2_apply, q_sim_ann, q_text_chunk, q_text_gopher, q_text_rows, q_text_tfidf, q_text_topterms, q_unigram_encode, q_wp_encode


REGISTRY: dict[str, tuple[QueryFn, str | None]] = {
    # sources
    "S-SEARCH": (q_scan_caps, ORACLE_SCAN_CAPS),
    "S-JDBC-SINK": (q_sink_suite, ORACLE_SINK_SUITE),
    "S-JSONL": (q_s_jsonl, ORACLE_S_JDBC_SINK),
    "S-CSV": (q_s_csv, ORACLE_S_JDBC_SINK),
    "S-ORC": (q_s_orc, ORACLE_S_JDBC_SINK),
    # projections and filters
    "P-PROJECT": (q_p_project, ORACLE_P_PROJECT),
    "P-FILTER": (q_p_filter, ORACLE_P_FILTER),
    # joins
    "J-DIM": (q_j_dim, ORACLE_J_DIM),
    "J-DIM-REPORTER": (q_j_dim_reporter, ORACLE_J_DIM_REPORTER),
    "J-MULTIWAY": (q_j_multiway, ORACLE_J_MULTIWAY),
    "J-ATTACH": (q_j_attach, ORACLE_J_ATTACH),
    "J-LOOKUP-INSERT": (q_j_lookup_insert, ORACLE_J_LOOKUP_INSERT),
    "J-SEMI": (q_semi_family, ORACLE_SEMI_FAMILY),
    "J-SALTED": (q_j_salted, ORACLE_J_SALTED),
    "J-ASOF": (q_asof, ORACLE_ASOF),
    "J-RANGE": (q_range_join, ORACLE_RANGE_JOIN),
    # aggregations
    "A-WORKLOG": (q_a_worklog, ORACLE_A_WORKLOG),
    "A-HSUM": (q_a_hsum, ORACLE_A_HSUM),
    "A-COUNT": (q_a_count, ORACLE_A_COUNT),
    "A-COLLECT": (q_a_collect, ORACLE_A_COLLECT),
    "A-SALTED": (q_a_salted, ORACLE_A_SALTED),
    "A-PIVOT": (q_a_pivot, ORACLE_A_PIVOT),
    # scalar functions
    "F-SCALAR": (q_f_scalar, ORACLE_F_SCALAR),
    "F-CUSTOMER": (q_f_customer_wide, ORACLE_F_CUSTOMER_WIDE),
    "F-ORDERS": (q_f_orders, ORACLE_F_ORDERS),
    "F-EVENTS": (q_f_events, ORACLE_F_EVENTS),
    "F-DATEOPS": (q_f_dateops, ORACLE_F_DATEOPS),
    # error handling and quality
    "E-DROP": (q_e_drop, ORACLE_E_DROP),
    "E-GATE": (q_e_gate, ORACLE_E_GATE),
    "E-ISOLATE": (q_e_isolate, ORACLE_E_ISOLATE),
    "E-PROFILE": (q_e_profile, ORACLE_E_PROFILE),
    "E-AUDIT": (q_e_audit, ORACLE_E_AUDIT),
    "E-QUANTILE": (q_e_quantile, ORACLE_E_QUANTILE),
    "E-ROBUST": (q_e_robust, ORACLE_E_ROBUST),
    "QUALITY-KLLGATE": (q_quality_kllgate, ORACLE_QUALITY_KLLGATE),
    # views
    "VIEW-CTE": (q_view_cte, ORACLE_VIEW_CTE),
    "VIEW-IDIOMATIC": (q_view_idiomatic, ORACLE_VIEW_IDIOMATIC),
    # windows
    "WIN-FIXED": (q_win_fixed, ORACLE_WIN_FIXED),
    "WIN-SLIDE": (q_win_slide, ORACLE_WIN_SLIDE),
    "WIN-SESSION": (q_win_session, ORACLE_WIN_SESSION),
    "WIN-RESAMPLE": (q_win_resample, ORACLE_WIN_RESAMPLE),
    # history
    "SCD2-APPLY": (q_scd2_apply, ORACLE_SCD2_APPLY),
    # dedup
    "DEDUP-EXACT": (q_dedup_exact_doc, ORACLE_DEDUP_EXACT_DOC),
    "DEDUP-EXACT-SUITE": (q_dedup_exact, ORACLE_DEDUP_EXACT),
    "LINE-DEDUP": (q_line_dedup, ORACLE_LINE_DEDUP),
    "LINE-DEDUP-KEEPFIRST": (q_line_dedup_keepfirst, ORACLE_LINE_DEDUP_KEEPFIRST),
    "DEDUP-SUBSTRING": (q_dedup_substring, ORACLE_DEDUP_SUBSTRING),
    "DEDUP-NGRAM": (q_dedup_ngram, ORACLE_DEDUP_NGRAM),
    "DEDUP-COMPONENTS": (q_dedup_components, ORACLE_DEDUP_COMPONENTS),
    "DEDUP-PRUNE": (q_dedup_prune, ORACLE_DEDUP_PRUNE),
    "DEDUP-PRUNE-BEST": (q_dedup_prune_best, ORACLE_DEDUP_PRUNE_BEST),
    "DEDUP-FUZZY": (q_dedup_fuzzy, ORACLE_DEDUP_FUZZY),
    "DEDUP-MINHASH": (q_dedup_minhash, None),
    "DEDUP-MINHASH-COMP": (q_dedup_minhash_comp, None),
    "DEDUP-SIMHASH": (q_dedup_simhash, None),
    "DEDUP-INCR": (q_dedup_incr, None),
    "DEDUP-CAPPED": (q_dedup_capped, ORACLE_DEDUP_CAPPED),
    "DEDUP-CAPPED-AUDIT": (q_dedup_capped_audit, ORACLE_DEDUP_CAPPED_AUDIT),
    "DEDUP-STARPRUNE": (q_dedup_starprune, ORACLE_DEDUP_STARPRUNE),
    "DEDUP-CANDIDATES": (q_dedup_candidates, None),
    "DEDUP-VERIFY": (q_dedup_verify, ORACLE_DEDUP_VERIFY),
    # corpus
    "CORPUS-ASSIGN": (q_corpus_assign, ORACLE_CORPUS_ASSIGN),
    "CORPUS-SPLIT": (q_corpus_split, ORACLE_CORPUS_SPLIT),
    "CORPUS-PACK": (q_corpus_pack, ORACLE_CORPUS_PACK),
    "CORPUS-PACKSEQ": (q_corpus_packseq, None),
    "CORPUS-DSIR": (q_corpus_dsir, ORACLE_CORPUS_DSIR),
    "CORPUS-NOVELTY": (q_corpus_novelty, ORACLE_CORPUS_NOVELTY),
    "CORPUS-SAMPLEK": (q_corpus_samplek, ORACLE_CORPUS_SAMPLEK),
    "CORPUS-DECONTAM": (q_corpus_decontam, ORACLE_CORPUS_DECONTAM),
    "CORPUS-DECONTAM-BLOOM": (q_corpus_decontam_bloom, ORACLE_CORPUS_DECONTAM),
    "CORPUS-DECONTAM-SUITE": (q_corpus_decontam_combined, ORACLE_CORPUS_DECONTAM_COMBINED),
    "CORPUS-CONTAMSCORE": (q_corpus_contamscore, ORACLE_CORPUS_CONTAMSCORE),
    # text
    "TEXT-PROFILE": (q_text_profile, ORACLE_TEXT_PROFILE),
    "TEXT-ROWS": (q_text_rows, ORACLE_TEXT_ROWS),
    "TEXT-TOKENS": (q_text_tokens, ORACLE_TEXT_TOKENS),
    "TEXT-QUALITY": (q_text_quality, ORACLE_TEXT_QUALITY),
    "TEXT-LANGID": (q_text_langid, ORACLE_TEXT_LANGID),
    "TEXT-FINGERPRINT": (q_text_fingerprint, ORACLE_TEXT_FINGERPRINT),
    "TEXT-CLEAN": (q_text_clean, ORACLE_TEXT_CLEAN),
    "TEXT-NORMALIZE": (q_text_normalize, ORACLE_TEXT_NORMALIZE),
    "TEXT-CHUNK": (q_text_chunk, ORACLE_TEXT_CHUNK),
    "TEXT-WINNOW": (q_text_winnow, ORACLE_TEXT_WINNOW),
    "TEXT-REPETITION": (q_text_repetition, ORACLE_TEXT_REPETITION),
    "TEXT-GOPHER": (q_text_gopher, ORACLE_TEXT_GOPHER),
    "TEXT-TOPTERMS": (q_text_topterms, ORACLE_TEXT_TOPTERMS),
    "TEXT-TFIDF": (q_text_tfidf, ORACLE_TEXT_TFIDF),
    "COMPRESS-RATIO": (q_compress_ratio, None),
    "LM-SCORE": (q_lm_score, ORACLE_LM_SCORE),
    # search
    "TEXT-BM25": (q_text_bm25, ORACLE_TEXT_BM25),
    "TEXT-BM25-TOPK": (q_search_suite, ORACLE_SEARCH_SUITE),
    "SEARCH-RRF": (q_search_rrf, ORACLE_SEARCH_RRF),
    # tokenizers
    "BPE-ENCODE": (q_bpe_encode, ORACLE_BPE_ENCODE),
    "WP-ENCODE": (q_wp_encode, ORACLE_WP_ENCODE),
    "UNIGRAM-ENCODE": (q_unigram_encode, ORACLE_UNIGRAM_ENCODE),
    # classifiers
    "CLS-SCORE": (q_cls_score, ORACLE_CLS_SCORE),
    "CLS-ROUTE": (q_cls_route, ORACLE_CLS_ROUTE),
    "CLS-GATE": (q_cls_gate, ORACLE_CLS_GATE),
    # sketches
    "SKETCH-HLL": (q_sketch_hll, ORACLE_SKETCH_HLL),
    "SKETCH-THETA": (q_sketch_theta, ORACLE_SKETCH_THETA),
    "SKETCH-FREQ": (q_sketch_freq, ORACLE_SKETCH_FREQ),
    "SKETCH-KLL": (q_sketch_kll, ORACLE_SKETCH_KLL),
    "SKETCH-BLOOM": (q_sketch_bloom, ORACLE_SKETCH_BLOOM),
    "SKETCH-CONTAM": (q_sketch_contam, ORACLE_SKETCH_CONTAM),
    "SKETCH-CONTAM-SCOUT": (q_sketch_contam_scout, None),
    # similarity
    "SIM-TOPK": (q_sim_topk, ORACLE_SIM_TOPK),
    "SIM-LSH": (q_sim_lsh, None),
    "SIM-LSH-QD": (q_sim_lsh_qd, None),
    "SIM-IVF": (q_sim_ivf, None),
    "SIM-IVF-APPEND": (q_sim_ivf_append, None),
    "SIM-IVF-RECLUSTER": (q_sim_ivf_recluster, None),
    "SIM-PQ": (q_sim_pq, None),
    "SIM-IVFPQ": (q_sim_ivfpq, None),
    "SIM-BQ": (q_sim_bq, ORACLE_SIM_BQ),
    "SIM-BQRR": (q_sim_bqrr, ORACLE_SIM_BQRR),
    "SIM-IVFBQ": (q_sim_ivfbq, None),
    "SIM-ANN": (q_sim_ann, None),
    "EMB-NEARDUP": (q_emb_neardup, None),
    "EMB-QUANT": (q_emb_quant, ORACLE_EMB_QUANT),
    # multimodal
    "MM-MEDIA": (q_mm_media, ORACLE_MM_MEDIA),
    "MM-VISUAL": (q_mm_visual, ORACLE_MM_VISUAL),
    "MM-IMAGE": (q_mm_image, ORACLE_MM_IMAGE),
    "MM-RESIZE": (q_mm_resize, ORACLE_MM_RESIZE),
    "MM-AUDIO": (q_mm_audio, ORACLE_MM_AUDIO),
    "MM-FRAMES": (q_mm_frames, ORACLE_MM_FRAMES),
    # pipelines
    "PIPE-DOCS": (q_pipe_docs, ORACLE_PIPE_DOCS),
    "PIPE-FAMILY": (q_pipe_family, ORACLE_PIPE_FAMILY),
    "PIPE-CORPUS": (q_pipe_corpus, ORACLE_PIPE_CORPUS),
    "PIPE-CORPUS-COMPONENTS": (q_pipe_corpus_components, None),
    "PIPE-EVENTS": (q_pipe_events, ORACLE_PIPE_EVENTS),
}

#: The ids the driver sees. Its correctness gate records a bounded prefix
#: of at most 50 entries; the ops a 50-row prefix once left unverified come
#: first, so a tighter cap still checks them.
DRIVER_WINDOW: tuple[str, ...] = (
    "TEXT-PROFILE", "TEXT-ROWS", "PIPE-FAMILY", "PIPE-EVENTS", "J-SALTED",
    "J-ASOF", "J-RANGE", "A-SALTED", "EMB-QUANT", "MM-MEDIA", "MM-FRAMES",
    "EMB-NEARDUP", "SIM-ANN", "DEDUP-CANDIDATES", "SCD2-APPLY", "E-QUANTILE",
    "S-SEARCH", "S-JDBC-SINK", "P-PROJECT", "P-FILTER", "J-DIM",
    "J-DIM-REPORTER", "J-MULTIWAY", "J-ATTACH", "J-LOOKUP-INSERT", "J-SEMI",
    "A-WORKLOG", "A-HSUM", "A-COLLECT", "F-SCALAR", "F-CUSTOMER", "F-ORDERS",
    "F-EVENTS", "E-DROP", "E-AUDIT", "VIEW-CTE", "WIN-FIXED", "WIN-SESSION",
    "DEDUP-EXACT-SUITE", "DEDUP-NGRAM", "DEDUP-COMPONENTS", "DEDUP-PRUNE",
    "CORPUS-ASSIGN", "CORPUS-DECONTAM-SUITE", "SIM-TOPK", "DEDUP-FUZZY",
    "TEXT-BM25-TOPK", "SKETCH-KLL", "SKETCH-CONTAM", "DEDUP-VERIFY",
)
assert len(DRIVER_WINDOW) <= 50, f"driver window exceeds 50 entries: {len(DRIVER_WINDOW)}"

#: The driver shows these combined ops under the id that their granular
#: form holds in the registry (renaming perfbench's mix ids is a benchmark change).
DRIVER_KEYS = {
    "PIPE-FAMILY": "PIPE-DOCS",
    "DEDUP-EXACT-SUITE": "DEDUP-EXACT",
    "CORPUS-DECONTAM-SUITE": "CORPUS-DECONTAM",
}

QUERIES: dict[str, QueryFn] = {DRIVER_KEYS.get(i, i): REGISTRY[i][0] for i in DRIVER_WINDOW}
ORACLES: dict[str, str] = {
    DRIVER_KEYS.get(i, i): REGISTRY[i][1] for i in DRIVER_WINDOW if REGISTRY[i][1] is not None
}
ALL_QUERIES: dict[str, QueryFn] = {i: fn for i, (fn, _) in REGISTRY.items()}
ALL_ORACLES: dict[str, str] = {i: sql for i, (_, sql) in REGISTRY.items() if sql is not None}


_DOCS = "SELECT COUNT(*) FROM documents"
_USERS_PER_TYPE = (
    "SELECT MAX(n) FROM (SELECT COUNT(DISTINCT user_id) AS n "
    "FROM events GROUP BY event_type)"
)

#: Oracles valid only within a declared regime: id -> (duckdb_count_sql,
#: max_value, note). Past the bound a sketch estimates and no SQL can
#: replay its compaction path, so a big-SF sweep records the rows-only
#: check instead of a false hash failure.
ORACLE_REGIMES: dict[str, tuple[str, int, str]] = {
    # KLL-thresholded gates: exact while input rows <= k = 65535 (every
    # driver-testdata SF); past it ~0.01% rank error, pinned in
    # tests/test_sketches.py
    "QUALITY-KLLGATE": (_DOCS, 65535, "KLL exact regime (rows <= k=65535)"),
    "CLS-GATE": (_DOCS, 65535, "KLL exact regime (rows <= k=65535)"),
    # KLL quantiles per event type: sf0.1 has 30k rows/type, the sf1
    # scale dir 300k
    "SKETCH-KLL": (
        "SELECT MAX(n) FROM (SELECT COUNT(*) AS n FROM events "
        "GROUP BY event_type)",
        65535,
        "KLL exact regime (rows/group <= k=65535)",
    ),
    # Theta sketches keep every hash while distinct users per type stay
    # <= k = 4096 (lg_k=12); sf0.1 has 1.5k (exact), the sf1 dir 15k
    # (~1.6% RSE, pinned in tests/test_sketches.py)
    "SKETCH-THETA": (
        _USERS_PER_TYPE, 4096, "Theta exact regime (distinct users/type <= k=4096)"
    ),
    # E-AUDIT carries the SKETCH-THETA rows (part='theta')
    "E-AUDIT": (
        _USERS_PER_TYPE,
        4096,
        "Theta exact regime (distinct users/type <= k=4096; theta part)",
    ),
}

#: Oracles exact at any scale but past one DuckDB node's compute or memory
#: beyond a declared input bound (same shape as ORACLE_REGIMES). Each was
#: OOM-killed or hit DuckDB's memory limit at the 500k-doc sf1 scale dir
#: (DuckDB's list/regex allocations ignore ``memory_limit``); the engine
#: side completed, and the sweep records the oracle as infeasible up front.
ORACLE_COMPUTE_BOUNDS: dict[str, tuple[str, int, str]] = {
    # all-pairs-in-block Jaccard twins: sum over blocks of (docs/block)^2
    # list intersections, ~8e9 at 500k docs
    **dict.fromkeys(
        ("DEDUP-NGRAM", "DEDUP-COMPONENTS", "DEDUP-PRUNE", "DEDUP-PRUNE-BEST",
         "PIPE-DOCS", "PIPE-CORPUS", "PIPE-FAMILY"),
        (_DOCS, 60000, "all-pairs-in-block oracle infeasible on one node past ~60k docs"),
    ),
    # wide text-profile oracles join 8-9 corpus-exploding CTEs; each of
    # their constituent ops keeps its own singleton oracle at that scale
    **dict.fromkeys(
        ("TEXT-PROFILE", "TEXT-REPETITION", "TEXT-ROWS"),
        (
            _DOCS,
            60000,
            "multi-CTE corpus-exploding oracle exceeds host memory past ~60k docs",
        ),
    ),
    # DEDUP-EXACT-SUITE carries the DEDUP-SUBSTRING rows (part='substr')
    **dict.fromkeys(
        ("DEDUP-SUBSTRING", "DEDUP-EXACT-SUITE"),
        (_DOCS, 60000, "token-span-replay oracle exceeds host memory past ~60k docs"),
    ),
    "BPE-ENCODE": (
        _DOCS,
        60000,
        "iterative pair-merge replay exceeds 64 GB DuckDB limit past "
        "~60k docs (measured OOM at 500k, r8 sweep)",
    ),
    "TEXT-TFIDF": (
        _DOCS,
        60000,
        "(doc, term) tf/df/rank replay exceeds 64 GB DuckDB limit past "
        "~60k docs (measured OOM at 500k, r8 sweep)",
    ),
    # its peak sits within host noise of the limit: ok once, OOM once
    "WP-ENCODE": (
        _DOCS,
        60000,
        "greedy longest-match replay peaks within noise of the 64 GB "
        "DuckDB limit past ~60k docs (ok r8, OOM r9 at 500k)",
    ),
}

#: Engine-side declared bounds: plans that are exact and cluster-scalable
#: but exceed one node's shuffle disk past the bound. At Jaccard t=0.2 the
#: PPJoin prefix keeps ~80% of each doc's tokens, so the candidate stage
#: is ~1e9 pairs and a >100 GB verify shuffle (DEDUP-NGRAM filled a 56 GB
#: blockmgr at the 500k-doc sf1 dir; PERF-NOTES 29). PIPE-DOCS runs at
#: t=0.6 and still measured 10.3e9 prefix candidates there: ~12k distinct
#: tokens over 500k docs make every token high-df, so no prefix can
#: discriminate. MinHash (DEDUP-MINHASH) is the low-threshold path at scale.
ENGINE_DISK_BOUNDS: dict[str, tuple[str, int, str]] = dict.fromkeys(
    ("DEDUP-NGRAM", "DEDUP-COMPONENTS", "DEDUP-PRUNE", "DEDUP-PRUNE-BEST",
     "PIPE-CORPUS", "PIPE-DOCS", "PIPE-FAMILY"),
    (
        _DOCS,
        60000,
        "exact-Jaccard verify shuffle exceeds one-node disk past ~60k "
        "docs of this corpus shape (cluster-scalable; MinHash is the "
        "designed low-threshold path)",
    ),
)
