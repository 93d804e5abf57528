#!/usr/bin/env python3
"""Derives perfbench/expected/digests.json, the expected outputs of the
batch workloads. Run it once per change of the data or of a query's
meaning, never to make a failing check pass:

    python3 perfbench/run.py --workload query_pass --seed 1 --seconds 1   # builds
    python3 perfbench/derive_digests.py

For each data directory the batch workloads use, `graft.Verify` dumps
the engine's result and the query's DuckDB oracle SQL. A query with an
oracle gets the oracle's digest, and the engine's must equal it; the
queries without one (randomized sketches, Deflater sizes, libm-log
Viterbi) get the engine's digest at this commit, marked as such.
"""
import json
import os
import shutil
import subprocess
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from bench.digest import frame_digest, parquet_digest  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def main():
    launch = open(os.path.join(ROOT, ".bench_build", "launch.txt")).read().splitlines()
    cp, opts = launch[0], [x for x in launch[1:] if x]
    workloads = json.load(open(os.path.join(HERE, "workloads.json")))
    wanted = {}
    for w in workloads.values():
        if "queries" in w:
            # the warm-up pass's outputs are checked too
            for sf in {w["data"], w["warm"]}:
                wanted.setdefault(sf, []).extend(w["queries"])
    out_path = os.path.join(HERE, "expected", "digests.json")
    result = {}
    mismatches = 0
    for sf, queries in sorted(wanted.items()):
        data = os.path.join(HERE, "data", sf)
        dump = os.path.join(ROOT, ".bench_work", "derive", sf)
        shutil.rmtree(dump, ignore_errors=True)
        os.makedirs(dump)
        subprocess.run(["java", *opts, "-XX:-UsePerfData", f"-Djava.io.tmpdir={dump}",
                        "-cp", cp, "graft.Verify",
                        data, dump, ",".join(queries)], check=True, cwd=ROOT,
                       env=dict(os.environ, SPARK_GRAFT_CPUS=str(os.cpu_count() or 4)))
        oracle = json.load(open(os.path.join(dump, "oracle_sql.json")))
        con = duckdb.connect()
        # a bounded footprint: DuckDB spills past it instead of taking the host
        con.execute("SET memory_limit='4GB'")
        con.execute(f"SET temp_directory='{os.path.join(dump, 'duckdb_tmp')}'")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
        result[sf] = {}
        for q in sorted(set(queries)):
            engine, rows = parquet_digest(os.path.join(dump, q))
            if q in oracle:
                try:
                    want, want_rows = frame_digest(con.execute(oracle[q]).fetchdf())
                except duckdb.Error as e:
                    mismatches += 1
                    print(f"ORACLE FAILED {sf} {q}: {e}")
                    continue
                source = "duckdb_oracle"
                if want != engine:
                    mismatches += 1
                    print(f"MISMATCH {sf} {q}: engine {engine[:12]} ({rows} rows) "
                          f"oracle {want[:12]} ({want_rows} rows)")
            else:
                want, want_rows, source = engine, rows, "engine_seed_commit"
            result[sf][q] = {"digest": want, "rows": want_rows, "source": source}
            print(f"{sf} {q}: {source} {want[:12]} ({want_rows} rows)")
    with open(out_path, "w") as fh:
        json.dump(result, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"wrote {os.path.relpath(out_path, ROOT)}; {mismatches} engine/oracle mismatches "
          "or oracle failures")
    sys.exit(1 if mismatches else 0)


if __name__ == "__main__":
    main()
