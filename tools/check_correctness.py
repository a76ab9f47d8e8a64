"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at the given sf dir, then compares row count, column names, and an
order-insensitive value hash (columns sorted by name, rows sorted by their
stringified form). Use while iterating; the driver's real check is the
authority.

Usage: python tools/check_correctness.py [sf_dir] [QUERY ...]
       python tools/check_correctness.py --all [sf_dir] [QUERY ...]

``--all`` checks every registry id (``ALL_QUERIES``/``ALL_ORACLES``)
instead of the driver contract: the driver's 50 ops plus the granular
singletons, the perfbench and bench ids among them.
"""

from __future__ import annotations

import hashlib
import os
import sys
import time
from pathlib import Path

import duckdb

# the checkout this file sits in: a copy of the repo checks its own package
ROOT = Path(__file__).resolve().parents[1]


def norm_cell(v) -> str:
    if v is None:
        return "\\N"
    if isinstance(v, float):
        if v != v:
            return "NaN"
        # repr round-trips doubles exactly; both engines surface python floats
        return repr(v)
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def frame_fingerprint(cols: list[str], rows: list[tuple]) -> tuple[int, list[str], str]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x01".join(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()
    return len(rows), sorted(cols), h


TABLES = "region nation customer supplier part orders lineitem events documents embeddings"


def create_views(con, sf_dir: str) -> None:
    """One DuckDB view per catalog table of ``sf_dir``, named as the oracles
    reference them."""
    for t in TABLES.split():
        # driver testdata is one file per table; Spark-written scale
        # dirs (tools/make_scale_dir.py) are DIRECTORIES of part files
        path = f"{sf_dir}/{t}.parquet"
        pattern = f"{path}/*.parquet" if os.path.isdir(path) else path
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{pattern}')"
        )


def main() -> int:
    argv = list(sys.argv[1:])
    use_all = "--all" in argv
    if use_all:
        argv.remove("--all")
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    sys.path.insert(0, str(ROOT))
    import __spark_entry__ as entrymod
    from feasibility_etl_spark.session import build_session

    spark = build_session("correctness-check")
    con = duckdb.connect()
    # big-SF sweeps: one memory-hungry oracle must spill, not take down
    # the machine (the first sf1 sweep died to a global OOM at 126 GB
    # anon RSS inside DuckDB). Limit + temp dir make blowups diskbound.
    mem_limit = os.environ.get("SPARK_GRAFT_DUCKDB_MEM", "32GB")
    con.execute(f"SET memory_limit='{mem_limit}'")
    con.execute("SET temp_directory='/tmp/duckdb_spill'")
    # memory_limit does NOT govern transient regex/list allocations, which
    # scale per-thread — 32 threads of regexp_extract_all over 500k docs
    # blew past 100 GB RSS and drew the kernel OOM killer. Bound the
    # thread count instead; small-SF sweeps don't notice, big-SF sweeps
    # trade wall time for survival.
    n_threads = int(os.environ.get("SPARK_GRAFT_DUCKDB_THREADS", "8"))
    con.execute(f"SET threads={n_threads}")
    con.execute("SET preserve_insertion_order=false")
    create_views(con, sf_dir)

    if use_all:
        from feasibility_etl_spark.driver_queries import ALL_ORACLES, ALL_QUERIES

        queries, oracles = dict(ALL_QUERIES), dict(ALL_ORACLES)
    else:
        queries = entrymod.queries()
        oracles = entrymod.oracle_sql()
    try:
        from feasibility_etl_spark.driver_queries import ORACLE_REGIMES
    except ImportError:
        ORACLE_REGIMES = {}
    try:
        from feasibility_etl_spark.driver_queries import ORACLE_COMPUTE_BOUNDS
    except ImportError:
        ORACLE_COMPUTE_BOUNDS = {}
    # drop out-of-regime oracles up front (e.g. KLL-thresholded gates
    # past the sketch's exact regime at big SFs): the hash CANNOT match
    # there by design, so the honest record is the weaker rows-only
    # check, not a false failure
    for qname, (count_sql, bound, note) in ORACLE_REGIMES.items():
        if qname in oracles:
            n_in = con.execute(count_sql).fetchone()[0]
            if n_in > bound:
                del oracles[qname]
                print(
                    f"[regime] {qname}: input rows {n_in} > {bound} "
                    f"({note}) -> rows-only at this SF"
                )
    # drop declared-infeasible oracles up front (exact at any scale but
    # quadratic for single-node DuckDB — the all-pairs Jaccard twins):
    # the entry records as oracle-infeasible instead of burning the OOM
    # kill timeout twice rediscovering it per sweep
    infeasible: dict[str, str] = {}
    for qname, (count_sql, bound, note) in ORACLE_COMPUTE_BOUNDS.items():
        if qname in oracles:
            n_in = con.execute(count_sql).fetchone()[0]
            if n_in > bound:
                del oracles[qname]
                infeasible[qname] = note
                print(
                    f"[infeasible] {qname}: input {n_in} > {bound} ({note})"
                )
    # declared ENGINE disk bounds: plans that are cluster-scalable but
    # exceed one node's shuffle disk past the bound (measured: the
    # t=0.2 exact-Jaccard family ENOSPC'd a 56 GB blockmgr at sf1) —
    # record the bound instead of re-filling the disk every sweep
    try:
        from feasibility_etl_spark.driver_queries import ENGINE_DISK_BOUNDS
    except ImportError:
        ENGINE_DISK_BOUNDS = {}
    disk_bound: dict[str, str] = {}
    for qname, (count_sql, bound, note) in ENGINE_DISK_BOUNDS.items():
        n_in = con.execute(count_sql).fetchone()[0]
        if n_in > bound:
            disk_bound[qname] = note
    failures, passed, rows_only = [], 0, 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        if name in disk_bound:
            rows_only += 1
            print(f"[DISK-BOUND] {name}: {disk_bound[name]}", flush=True)
            continue
        # nudge the JVM so ContextCleaner reaps the PREVIOUS entry's dead
        # shuffle files — a failed big query otherwise leaves its blockmgr
        # spill behind (measured 56 GB) and starves the entries after it
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:  # noqa: BLE001
            pass
        print(f"[run] {name}", flush=True)
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            if name not in oracles:
                # rows-only entry (no oracle, or the oracle was dropped
                # as declared-infeasible above): only the COUNT is
                # recorded — never materialize the rows (the r6 sf1
                # sweep spent 19 min "on" DEDUP-MINHASH shipping its
                # 27M candidate rows to the driver for a count; the
                # engine produced them in 22 s)
                n_rows_only = sdf.count()
                rows_only += 1
                if name in infeasible:
                    print(
                        f"[OOM-ORACLE] {name}: {n_rows_only} spark rows "
                        f"({time.time()-t0:.1f}s); declared infeasible "
                        f"bound: {infeasible[name]}"
                    )
                else:
                    print(
                        f"[ROWS-ONLY] {name}: {n_rows_only} rows "
                        f"({time.time()-t0:.1f}s)"
                    )
                continue
            if os.environ.get("SPARK_GRAFT_STREAM_COLLECT") == "1":
                # big-SF sweeps: collectToPython materializes the whole
                # result in the driver JVM heap first — TEXT-ROWS at the
                # sf1 scale dir (millions of rows with full text columns)
                # OOMs an 8g driver. The first fix (toLocalIterator) kept
                # the heap bounded but executes ONE JOB PER PARTITION,
                # serially — a 200-partition result runs its final stage
                # one task at a time (observed: 1000+ stages, 1-2 live
                # threads, the sweep's real straggler). Scalable shape:
                # a fully PARALLEL parquet write, then read the files
                # back through DuckDB — which also types the rows exactly
                # like the oracle side (same engine parses both), and the
                # hash is order-insensitive so file order is irrelevant.
                import glob as _glob
                import shutil as _shutil
                import tempfile as _tempfile

                # per-run private staging dir: a fixed /tmp path lets two
                # concurrent sweeps (or one sweep against two SF dirs)
                # clobber each other's staged results and hash the wrong
                # engine output
                tmp_dir = _tempfile.mkdtemp(
                    prefix=f"cc_spark_{name.replace('/', '_')}_"
                )
                sdf.write.mode("overwrite").parquet(tmp_dir)
                scols = list(sdf.columns)
                parts = _glob.glob(f"{tmp_dir}/*.parquet")
                if parts:
                    cur = con.execute(
                        f"SELECT * FROM read_parquet('{tmp_dir}/*.parquet')"
                    )
                    scols = [d[0] for d in cur.description]
                    srows = cur.fetchall()
                else:
                    srows = []
                _shutil.rmtree(tmp_dir, ignore_errors=True)
            else:
                srows = [tuple(r) for r in sdf.collect()]
                scols = list(sdf.columns)
        except Exception as e:  # noqa: BLE001
            # Py4J errors bury the JVM root cause in a multi-line stack;
            # the sweep driver keeps only the first line — surface the
            # deepest "Caused by:" so big-SF failures stay diagnosable
            msg = str(e)
            causes = [
                ln.strip() for ln in msg.splitlines()
                if ln.strip().startswith("Caused by")
            ]
            root = causes[-1] if causes else msg.splitlines()[0] if msg else ""
            failures.append((name, f"SPARK ERROR: {type(e).__name__}: {root}"))
            print(f"[FAIL] {name}: spark error: {root}")
            sys.stderr.write(f"[FAIL-DETAIL] {name}:\n{msg}\n")
            continue
        try:
            cur = con.execute(oracles[name])
            dcols = [d[0] for d in cur.description]
            drows = cur.fetchall()
        except Exception as e:  # noqa: BLE001
            if "Out of Memory" in str(e):
                # the SPARK side succeeded; the ORACLE exceeded host
                # memory at this SF (composed multi-CTE replays at big
                # scale dirs — the TEXT-PROFILE precedent). Record the
                # weaker rows-only outcome honestly, not a false engine
                # failure; constituent ops keep their own singleton
                # oracles at this SF.
                rows_only += 1
                print(
                    f"[OOM-ORACLE] {name}: {len(srows)} spark rows; "
                    f"duckdb oracle exceeded memory at this SF"
                )
                continue
            failures.append((name, f"DUCKDB ERROR: {type(e).__name__}: {e}"))
            print(f"[FAIL] {name}: duckdb error: {e}")
            continue
        sn, sc, sh = frame_fingerprint(scols, srows)
        dn, dc, dh = frame_fingerprint(dcols, drows)
        problems = []
        if sn != dn:
            problems.append(f"rowcount {sn} != {dn}")
        if sc != dc:
            problems.append(f"columns {sc} != {dc}")
        if sh != dh:
            problems.append("value hash mismatch")
        if problems:
            failures.append((name, "; ".join(problems)))
            print(f"[FAIL] {name}: {'; '.join(problems)} ({time.time()-t0:.1f}s)")
            if sn == dn and sc == dc:
                # show first differing rows for debugging
                import itertools

                order = sorted(range(len(sc)), key=lambda i: scols[i])
                dorder = sorted(range(len(dc)), key=lambda i: dcols[i])
                sset = sorted("\x01".join(norm_cell(r[i]) for i in order) for r in srows)
                dset = sorted("\x01".join(norm_cell(r[i]) for i in dorder) for r in drows)
                for a, b in itertools.islice(
                    ((a, b) for a, b in zip(sset, dset) if a != b), 3
                ):
                    print(f"    spark: {a.replace(chr(1), ' | ')}")
                    print(f"    duck : {b.replace(chr(1), ' | ')}")
        else:
            passed += 1
            print(f"[ok] {name}: {sn} rows ({time.time()-t0:.1f}s)")

    print(
        f"\n{passed} passed, {len(failures)} failed, {rows_only} rows-only, "
        f"{len(queries)} total"
    )
    for name, why in failures:
        print(f"  FAIL {name}: {why}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
