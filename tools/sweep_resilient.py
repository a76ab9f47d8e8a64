"""OOM-resilient granular sweep driver for big scale dirs.

Runs ``check_correctness.py --all`` in CHUNKS of entries, each in its
own subprocess, recording per-entry outcomes to a jsonl. If a chunk is
OOM-killed (exit 137) or otherwise dies mid-entry, the wrapper re-runs
the first uncompleted entry SOLO; if the solo run dies too, the entry is
recorded as ``oom_skip`` (with the kill signal) and the sweep continues
with the next entry instead of losing the whole battery.

Rationale: at the sf1-equivalent scale dir (500k docs), a handful of
composed oracles (e.g. TEXT-PROFILE's 8-way CTE join) drive DuckDB's
transient regex/list allocations past the host's physical memory no
matter the configured memory_limit — those allocations are not
buffer-managed, so the kernel OOM killer takes the process. Each such
entry's CONSTITUENT ops have their own full-oracle singleton entries
that do pass at scale; the wrapper makes that partial evidence
recordable instead of all-or-nothing.

Usage: python tools/sweep_resilient.py SF_DIR [--out FILE] [--chunk N]
       [--resume] [ONLY ...]
"""

from __future__ import annotations

import argparse
import json
import os
import re
import subprocess
import sys
import time
from pathlib import Path

CHECKER = os.path.join(os.path.dirname(__file__), "check_correctness.py")
# the checkout this file sits in, whose package the sweep lists
ROOT = Path(__file__).resolve().parents[1]

LINE_RE = re.compile(r"^\[(ok|FAIL|ROWS-ONLY|OOM-ORACLE|DISK-BOUND)\] ([A-Za-z0-9_-]+):")
RUN_RE = re.compile(r"^\[run\] ([A-Za-z0-9_-]+)$")


def run_chunk(sf_dir: str, names: list[str], env: dict) -> tuple[dict, int]:
    """Run one checker subprocess over ``names``; parse per-entry lines.

    Returns (outcomes, returncode); outcomes maps entry -> dict(status,
    detail, secs).
    """
    cmd = [sys.executable, CHECKER, "--all", sf_dir, *names]
    t0 = time.time()
    proc = subprocess.run(cmd, capture_output=True, text=True, env=env)
    out = proc.stdout
    outcomes: dict[str, dict] = {}
    started: str | None = None
    for line in out.splitlines():
        m = RUN_RE.match(line)
        if m:
            started = m.group(1)
            continue
        m = LINE_RE.match(line)
        if m:
            status, name = m.groups()
            secs = None
            sm = re.search(r"\(([0-9.]+)s\)", line)
            if sm:
                secs = float(sm.group(1))
            outcomes[name] = {
                "status": {"ok": "ok", "FAIL": "fail", "ROWS-ONLY": "rows_only",
                           "OOM-ORACLE": "oracle_oom",
                           "DISK-BOUND": "disk_bound"}[status],
                "detail": line.strip(),
                "secs": secs,
            }
            started = None
    if proc.returncode in (137, -9) and started and started not in outcomes:
        outcomes[started] = {
            "status": "killed_during",
            "detail": f"process exited {proc.returncode} while running {started}",
            "secs": round(time.time() - t0, 1),
        }
    return outcomes, proc.returncode


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir")
    ap.add_argument("--out", default=None)
    ap.add_argument("--chunk", type=int, default=8)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("only", nargs="*")
    args = ap.parse_args()

    out_path = args.out or f"/tmp/sweep_{os.path.basename(args.sf_dir)}.jsonl"

    sys.path.insert(0, str(ROOT))
    from feasibility_etl_spark.driver_queries import ALL_QUERIES

    names = [n for n in ALL_QUERIES if not args.only or n in args.only]

    done: dict[str, dict] = {}
    if args.resume and os.path.exists(out_path):
        with open(out_path) as f:
            for line in f:
                rec = json.loads(line)
                if rec["status"] in ("ok", "rows_only", "fail", "oom_skip", "oracle_oom", "disk_bound"):
                    done[rec["name"]] = rec
    todo = [n for n in names if n not in done]
    print(f"[sweep] {len(todo)} to run, {len(done)} already recorded -> {out_path}",
          flush=True)

    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_DUCKDB_THREADS", "4")
    env.setdefault("SPARK_GRAFT_DUCKDB_MEM", "24GB")
    # stream Spark results through the driver JVM one partition at a
    # time (full collects of text-heavy results OOM the 8g heap at sf1)
    # and give the heap headroom for plan/broadcast bookkeeping anyway
    env.setdefault("SPARK_GRAFT_STREAM_COLLECT", "1")
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", "16g")

    sink = open(out_path, "a")

    def record(name: str, rec: dict) -> None:
        rec = {"name": name, **rec, "ts": round(time.time(), 1)}
        sink.write(json.dumps(rec) + "\n")
        sink.flush()
        print(f"[sweep] {name}: {rec['status']}", flush=True)

    i = 0
    while i < len(todo):
        chunk = todo[i : i + args.chunk]
        outcomes, rc = run_chunk(args.sf_dir, chunk, env)
        clean = [n for n in chunk if n in outcomes and
                 outcomes[n]["status"] in ("ok", "rows_only", "fail", "oracle_oom", "disk_bound")]
        for n in clean:
            record(n, outcomes[n])
        if rc == 0 or len(clean) == len(chunk):
            i += len(chunk)
            continue
        # died mid-chunk: the first uncompleted entry is the suspect —
        # retry it solo; a second death convicts it
        suspect = next(n for n in chunk if n not in outcomes or
                       outcomes[n]["status"] == "killed_during")
        print(f"[sweep] chunk died (rc={rc}) on {suspect}; solo retry", flush=True)
        solo, solo_rc = run_chunk(args.sf_dir, [suspect], env)
        if suspect in solo and solo[suspect]["status"] in ("ok", "rows_only", "fail", "oracle_oom", "disk_bound"):
            record(suspect, solo[suspect])
        else:
            record(suspect, {
                "status": "oom_skip",
                "detail": f"killed twice (chunk rc={rc}, solo rc={solo_rc}); "
                          "oracle exceeds host memory at this SF",
                "secs": solo.get(suspect, {}).get("secs"),
            })
        # continue with entries after the suspect (earlier chunk members
        # were already recorded above)
        i = todo.index(suspect) + 1

    sink.close()
    with open(out_path) as f:
        recs = [json.loads(l) for l in f]
    by = {}
    for r in recs:
        by[r["name"]] = r["status"]
    from collections import Counter

    print(f"[sweep] summary: {dict(Counter(by.values()))}", flush=True)
    return 1 if any(v == "fail" for v in by.values()) else 0


if __name__ == "__main__":
    raise SystemExit(main())
