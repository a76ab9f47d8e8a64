"""DuckDB oracle fingerprints for registered queries, in a child process.

    python3 perfbench/oracle.py <data_dir> <temp_dir> <out.json> QUERY_ID...

Runs each query's registered oracle (``ALL_ORACLES``) over the parquet
files in ``data_dir`` and writes ``{query_id: [rows, columns, sha256]}`` —
the fingerprint ``tools/check_correctness.py`` compares. The benchmark
runs it after its measured windows, while the Spark session is idle, so
DuckDB never shares the CPUs with a timed interval.
"""

from __future__ import annotations

import json
import os
import sys


def fingerprint(cols, rows) -> list:
    """``[rows, sorted columns, sha256]`` of a result, as JSON round-trips it."""
    from check_correctness import frame_fingerprint

    return list(frame_fingerprint(list(cols), [tuple(r) for r in rows]))


def main(argv: list[str]) -> int:
    data, tmp, out, ids = argv[0], argv[1], argv[2], argv[3:]
    root = os.getcwd()
    sys.path[:0] = [root, os.path.join(root, "tools")]
    import duckdb

    from feasibility_etl_spark.driver_queries import ALL_ORACLES

    con = duckdb.connect()
    con.execute(f"SET threads={len(os.sched_getaffinity(0))}")
    con.execute("SET memory_limit='2GB'")
    con.execute(f"SET temp_directory='{tmp}'")
    for f in sorted(os.listdir(data)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(data, f)}')")
    result = {}
    for q in ids:
        cur = con.execute(ALL_ORACLES[q])
        result[q] = fingerprint([d[0] for d in cur.description], cur.fetchall())
    con.close()
    with open(out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
