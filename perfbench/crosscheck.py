#!/usr/bin/env python3
"""Regenerates perfbench/expected_digests.txt, cross-checked by DuckDB.

Runs every benchmark query on the generated fixtures (perfbench.Main
--dump), compares each output with DuckDB running the query's
`SparkEntry.oracleSql` entry on the same fixtures (row count, column
names and types, exact values), and only when every query matches
writes the digests the benchmark checks outputs against.

Usage (from the root of a checkout): python3 perfbench/crosscheck.py
"""
import glob
import json
import os
import subprocess
import sys
from pathlib import Path

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

sys.dont_write_bytecode = True
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402
import run  # noqa: E402

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def compare(con, sql, path):
    spark = pq.read_table(glob.glob(f"{path}/*.parquet"))
    duck = con.sql(sql).arrow()
    s = spark.select(sorted(spark.column_names))
    d = duck.select(sorted(duck.column_names))
    if s.column_names != d.column_names:
        return f"columns spark={s.column_names} duck={d.column_names}"
    if s.num_rows != d.num_rows:
        return f"rows spark={s.num_rows} duck={d.num_rows}"
    sp, dp = s.to_pandas(), d.to_pandas()
    for c in s.column_names:
        st, dt = s.schema.field(c).type, d.schema.field(c).type
        if pa.types.is_timestamp(st) != pa.types.is_timestamp(dt) or \
                (not pa.types.is_timestamp(st) and str(st) != str(dt)):
            return f"column {c}: type spark={st} duck={dt}"
        neq = ~((sp[c] == dp[c]) | (sp[c].isna() & dp[c].isna()))
        if neq.any():
            return f"column {c}: {int(neq.sum())} values differ"
    return None


def main():
    out = Path(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    base = (out if out.is_absolute() else ROOT / out) / "perfbench"
    classes = build.build(ROOT, base)
    data = base / "data"
    for name, sf in run.SCALES.items():
        run.gen_data.write(str(data / name), sf)
    dump = base / "crosscheck"
    tmp = base / "tmp" / "crosscheck"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = [build.java()]
    for p in run.ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xmx2g", "-XX:-UsePerfData", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={tmp}", "-cp", build.classpath(ROOT, classes),
            "perfbench.Main", "--data", str(data), "--tmp", str(tmp),
            "--cpus", str(len(os.sched_getaffinity(0))), "--dump", str(dump)]
    subprocess.run(cmd, check=True, stderr=subprocess.DEVNULL, cwd=str(tmp))
    oracle = json.loads((dump / "oracle_sql.json").read_text())
    cons = {}
    bad = 0
    lines = []
    for line in (dump / "digests.txt").read_text().split("\n"):
        if not line:
            continue
        name, digest, scale = line.split()
        if scale not in cons:
            cons[scale] = duckdb.connect()
            for t in TABLES:
                cons[scale].execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                    f"read_parquet('{data / scale / t}.parquet')")
        msg = compare(cons[scale], oracle[name], dump / scale / name) \
            if name in oracle else "no oracle SQL"
        print(f"{'FAIL' if msg else 'ok'}   {scale} {name} {msg or digest}")
        bad += bool(msg)
        lines.append(f"{name} {digest}")
    if bad:
        sys.exit(f"{bad} queries differ from the oracle; digests not written")
    (HERE / "expected_digests.txt").write_text(
        "# query output digests (md5 of canonical rows:row count) on the\n"
        "# generated fixtures, cross-checked against DuckDB by crosscheck.py\n"
        + "\n".join(lines) + "\n")


if __name__ == "__main__":
    main()
