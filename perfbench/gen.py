"""Seeded input generator for the benchmark workloads.

Every table has the schema of the engine's catalog
(``feasibility_etl_spark.sources.catalog.TABLES``) and the value shapes of
the TPC-H-ish test corpus: the same key ranges, categorical domains and
formats, scaled down so one run fits a short measuring window. The same
seed gives byte-identical files. Only numpy and pyarrow are used, so
generation needs no Spark session and is not part of any timed window.

Documents are built for the PIPE-CORPUS chain: a 4k-word vocabulary with
a Zipf-like head (which includes the BM25 query terms), a fixed share of
stopwords so most documents pass the quality and language gates, and four
planted document classes whose counts do not depend on the seed:

- ``orig``   — fresh text;
- ``exact``  — an earlier original with one comma added per 7-word line:
  every line differs (so line dedup keeps them) but the normalized
  fingerprint is the original's, so exact dedup removes it;
- ``near``   — an earlier original with one word replaced per 7-word line,
  same lang and source: token Jaccard ≈ 0.75, pruned by the near-dup stage;
- ``junk``   — short, stopword-free text that fails the quality gate.

The class shares (6% exact, 18% near, 8% junk) are assumptions, not
measurements of a real corpus. They are set so that every dedup and gate
stage removes a checkable number of documents while hundreds still reach
the last stages; the templated test corpus instead loses almost all of its
documents in the near-dup stage, which leaves the later stages timing
fixed per-job cost.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["large", "small", "hot", "cold", "blue", "red", "shiny", "old"]
PART_NOUN = ["ring", "bolt", "anvil", "gear", "pipe", "valve", "spring", "nut"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
# the corpus words of the test data first (BM25 terms among them), so the
# Zipf head is the vocabulary the registered text queries search for
HEAD_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row agg "
    "key query scan batch"
).split()
STOPWORDS = ["the", "and", "of", "to", "a", "in", "is", "that", "it", "for", "with", "be"]
SYLLABLES = [c + v for c in "bcdfghklmnprstvz" for v in "aeiou"]
VOCAB_SIZE = 4000
LINE_WORDS = 7  # the structured-docs rewrite breaks a line every 7 words
EMB_DIM = 64

_EPOCH_1995 = dt.datetime(1995, 1, 1)
_EPOCH_2024 = dt.datetime(2024, 1, 1)

#: rows per table for the query-mix star (about 1/5 of the sf0.1 corpus,
#: whose events table has 100,000 rows from 1,500 users)
STAR_ROWS = {
    "customer": 3000,
    "supplier": 200,
    "part": 4000,
    "orders": 30000,
    "events": 20000,
    "documents": 1000,
    "embeddings": 1000,
}
STAR_USERS = 300  # 1/5 of sf0.1's 1,500 event users, as the events above


def _ts(base: dt.datetime, micros: np.ndarray) -> pa.Array:
    start = int((base - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)
    return pa.array(start + micros.astype(np.int64), type=pa.timestamp("us"))


def _write(dst: str, name: str, cols: dict) -> dict:
    path = os.path.join(dst, f"{name}.parquet")
    table = pa.table(cols)
    pq.write_table(table, path)
    return {"rows": table.num_rows, "bytes": os.path.getsize(path)}


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def vocabulary() -> list[str]:
    """The fixed document vocabulary: head words, then two/three-syllable
    pseudo-words in a fixed order (independent of the seed)."""
    rng = np.random.default_rng(12345)
    words = list(HEAD_WORDS)
    seen = set(words) | set(STOPWORDS)
    while len(words) < VOCAB_SIZE:
        k = 2 if rng.random() < 0.5 else 3
        w = "".join(SYLLABLES[i] for i in rng.integers(0, len(SYLLABLES), k))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


class DocSampler:
    """Draws document token lists from the fixed vocabulary."""

    def __init__(self, rng: np.random.Generator) -> None:
        self.rng = rng
        self.vocab = np.array(vocabulary())
        ranks = np.arange(1, len(self.vocab) + 1, dtype=np.float64)
        p = ranks**-0.7
        self.p = p / p.sum()
        self.stop = np.array(STOPWORDS)

    def content(self, n: int) -> np.ndarray:
        return self.vocab[self.rng.choice(len(self.vocab), n, p=self.p)]

    def original(self) -> list[str]:
        n = int(self.rng.integers(25, 110))
        toks = self.content(n)
        is_stop = self.rng.random(n) < 0.22
        toks[is_stop] = self.stop[self.rng.integers(0, len(self.stop), is_stop.sum())]
        return list(toks)

    def junk(self) -> list[str]:
        return list(self.content(int(self.rng.integers(6, 14))))

    def per_line(self, toks: list[str], edit) -> list[str]:
        out = list(toks)
        for start in range(0, len(out), LINE_WORDS):
            i = start + int(self.rng.integers(0, min(LINE_WORDS, len(out) - start)))
            out[i] = edit(out[i])
        return out


def gen_documents(dst: str, rng: np.random.Generator, n: int) -> dict:
    """``n`` documents; class shares are fixed counts, so every seed plants
    the same number of exact and near duplicates."""
    s = DocSampler(rng)
    kinds = (["exact"] * int(n * 0.06) + ["near"] * int(n * 0.18)
             + ["junk"] * int(n * 0.08))
    kinds += ["orig"] * (n - len(kinds))
    order = rng.permutation(len(kinds))
    kinds = [kinds[i] for i in order]
    kinds[0] = "orig"  # copies need an earlier original
    texts, langs, sources, origs = [], [], [], []
    for doc_id, kind in enumerate(kinds):
        lang = LANGS[int(rng.choice(len(LANGS), p=LANG_P))]
        source = f"src{doc_id % 20}"
        if kind == "orig" or not origs:
            toks = s.original()
            origs.append(doc_id)
        elif kind == "junk":
            toks = s.junk()
        else:
            src = origs[int(rng.integers(0, len(origs)))]
            base = texts[src].split()
            if kind == "exact":
                toks = s.per_line(base, lambda w: w + ",")
            else:
                toks = s.per_line(base, lambda w: str(s.content(1)[0]))
                lang, source = langs[src], sources[src]
        texts.append(" ".join(toks))
        langs.append(lang)
        sources.append(source)
    info = _write(dst, "documents", {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(langs),
        "source": pa.array(sources),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })
    info["kinds"] = {k: kinds.count(k) for k in ("orig", "exact", "near", "junk")}
    return info


def events_columns(rng: np.random.Generator, first_id: int, n: int, users: int,
                   start_s: float = 0.0) -> dict:
    """``n`` events with ids ``first_id..``; timestamps strictly increase
    (unique, so time-ordered oracles have no ties) from ``start_s``."""
    gaps = rng.integers(1, 25_000_000, n)  # up to 25 s apart, in µs
    micros = int(start_s * 1_000_000) + np.cumsum(gaps)
    return {
        "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "ts": micros,
        "user_id": rng.integers(0, users, n).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)].astype(object),
        "value": np.round(rng.exponential(60.0, n), 2),
        "props": np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], dtype=object),
    }


def events_table(cols: dict) -> pa.Table:
    return pa.table({
        "event_id": pa.array(cols["event_id"], type=pa.int64()),
        "ts": _ts(_EPOCH_2024, cols["ts"]),
        "user_id": pa.array(cols["user_id"], type=pa.int64()),
        "event_type": pa.array(cols["event_type"], type=pa.string()),
        "value": pa.array(cols["value"], type=pa.float64()),
        "props": pa.array(cols["props"], type=pa.string()),
    })


def gen_star(dst: str, seed: int) -> dict:
    """The full ten-table star for query-mix; returns rows/bytes per table."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(dst, exist_ok=True)
    r = STAR_ROWS
    info = {
        "region": _write(dst, "region", {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(REGIONS),
        }),
        "nation": _write(dst, "nation", {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }),
    }
    nc = r["customer"]
    info["customer"] = _write(dst, "customer", {
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, nc)]),
    })
    ns = r["supplier"]
    info["supplier"] = _write(dst, "supplier", {
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns)),
    })
    npart = r["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    info["part"] = _write(dst, "part", {
        "p_partkey": pa.array(np.arange(npart, dtype=np.int64)),
        "p_name": pa.array(np.array(names)[rng.integers(0, len(names), npart)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)]),
        "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, npart)]),
        "p_size": pa.array(rng.integers(1, 51, npart).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 2)),
    })
    no = r["orders"]
    day_us = 86_400 * 1_000_000
    odays = rng.integers(0, 2405, no)
    info["orders"] = _write(dst, "orders", {
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no).astype(np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, no)]),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, no)),
        "o_orderdate": _ts(_EPOCH_1995, odays * day_us),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, no)]),
    })
    nlines = rng.integers(1, 8, no)
    lk = np.repeat(np.arange(no, dtype=np.int64), nlines)
    ln = np.concatenate([np.arange(1, k + 1) for k in nlines]).astype(np.int32)
    nl = len(lk)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    info["lineitem"] = _write(dst, "lineitem", {
        "l_orderkey": pa.array(lk),
        "l_partkey": pa.array(rng.integers(0, npart, nl).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, ns, nl).astype(np.int64)),
        "l_linenumber": pa.array(ln),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, nl), 2)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, nl)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, nl)]),
        "l_shipdate": _ts(_EPOCH_1995, (np.repeat(odays, nlines)
                                        + rng.integers(1, 122, nl)) * day_us),
    })
    ev = events_table(events_columns(rng, 0, r["events"], users=STAR_USERS))
    pq.write_table(ev, os.path.join(dst, "events.parquet"))
    info["events"] = {"rows": ev.num_rows,
                      "bytes": os.path.getsize(os.path.join(dst, "events.parquet"))}
    info["documents"] = gen_documents(dst, rng, r["documents"])
    nv = r["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(0.0, 1.0, (10, EMB_DIM))
    vecs = centers[labels] * 0.6 + rng.normal(0.0, 1.0, (nv, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    info["embeddings"] = _write(dst, "embeddings", {
        "vec_id": pa.array(np.arange(nv, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })
    return info


def gen_event_batches(rng: np.random.Generator, n_batches: int, rows: int, users: int,
                      redeliver_frac: float, null_frac: float):
    """Event batches for the write paths, as ``(table, expect)`` pairs.

    Batch ``b > 0`` re-sends ``redeliver_frac`` of its rows as exact copies
    of rows already delivered (redelivered keys); every batch carries
    ``null_frac`` fresh rows with a null ``user_id`` or ``event_type``
    (required columns of the star). ``expect`` holds the ground truth the
    load must reproduce, computed here from the generated rows."""
    next_id, clock = 0, 0.0
    delivered: list[pa.Table] = []
    valid_keys: set[int] = set()
    out = []
    for b in range(n_batches):
        n_redo = int(rows * redeliver_frac) if b else 0
        n_new = rows - n_redo
        cols = events_columns(rng, next_id, n_new, users, start_s=clock)
        next_id += n_new
        clock = float(cols["ts"][-1]) / 1_000_000 + 1.0
        n_null = int(rows * null_frac)
        null_rows = rng.choice(n_new, n_null, replace=False)
        half = n_null // 2
        user = pa.array(cols["user_id"], type=pa.int64(),
                        mask=np.isin(np.arange(n_new), null_rows[:half]))
        etype = pa.array(cols["event_type"], type=pa.string(),
                         mask=np.isin(np.arange(n_new), null_rows[half:]))
        fresh = events_table(cols).set_column(2, "user_id", user).set_column(
            3, "event_type", etype)
        ok = np.ones(n_new, dtype=bool)
        ok[null_rows] = False
        if n_redo:
            pool = pa.concat_tables(delivered)
            pool = pool.filter(pa.compute.invert(pa.compute.or_(
                pa.compute.is_null(pool["user_id"]), pa.compute.is_null(pool["event_type"]))))
            pick = np.sort(rng.choice(pool.num_rows, n_redo, replace=False))
            table = pa.concat_tables([fresh, pool.take(pick)])
        else:
            table = fresh
        delivered.append(fresh)
        valid_keys.update(cols["event_id"][ok].tolist())
        out.append((table, {"rows": table.num_rows, "rejected": n_null,
                            "redelivered": n_redo, "fact_rows": len(valid_keys)}))
    return out


def expected_dims(tables: list[pa.Table]) -> dict:
    """Distinct dimension members the etl CLI derives from valid rows:
    users ``user_{id % 500}`` and ``user_{id % 499}``, projects
    ``upper(event_type)``."""
    users, projects = set(), set()
    for t in tables:
        ok = t.filter(pa.compute.and_(pa.compute.is_valid(t["user_id"]),
                                      pa.compute.is_valid(t["event_type"])))
        uid = np.asarray(ok["user_id"].to_numpy())
        users.update(f"user_{u}" for u in np.unique(uid % 500))
        users.update(f"user_{u}" for u in np.unique(uid % 499))
        projects.update(e.upper() for e in ok["event_type"].to_pylist())
    return {"jira_user": len(users), "project": len(projects)}
