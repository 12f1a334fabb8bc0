#!/usr/bin/env python3
"""Self-test of the benchmark's generators and output checks.

    python3 perfbench/selftest.py

Needs one finished run of each workload in this checkout (run.py leaves its
last run under .bench_build/work/<workload>/). It verifies that:
  - the migration generator is deterministic: the same seed gives identical
    tables and manifest, another seed gives different tables;
  - the migration check passes the real output tree and rejects a copy with
    one target row dropped and a copy with one object byte flipped;
  - it also passes a copy in which the three program faults it tolerates are
    mended (ids normalized, text cleaned, istat codes as zero-padded strings),
    and rejects a copy whose municipality codes lost their leading zeros;
  - the catalog check passes the real results and rejects a copy with one
    result row dropped.
Exits 1 if any of these fails.
"""
import filecmp
import glob
import json
import os
import shutil
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check_migration  # noqa: E402
import gen_migration  # noqa: E402
import run  # noqa: E402

BUILD = os.path.join(run.ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
SCRATCH = os.path.join(BUILD, "selftest")
results = []


def expect(name, ok):
    results.append(ok)
    print(("PASS " if ok else "FAIL ") + name)


def same_tree(a, b):
    files = sorted(os.path.relpath(p, a) for p in glob.glob(os.path.join(a, "**", "*"), recursive=True)
                   if os.path.isfile(p))
    return files == sorted(os.path.relpath(p, b) for p in glob.glob(os.path.join(b, "**", "*"),
                                                                       recursive=True)
                           if os.path.isfile(p)) and \
        all(filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False) for f in files)


def drop_last_row(parquet_dir_or_file):
    files = sorted(glob.glob(os.path.join(parquet_dir_or_file, "*.parquet"))) \
        if os.path.isdir(parquet_dir_or_file) else [parquet_dir_or_file]
    f = next(p for p in files if pq.read_metadata(p).num_rows > 0)
    t = pq.read_table(f)
    pq.write_table(t.slice(0, t.num_rows - 1), f)


def generator():
    a, b, c = (os.path.join(SCRATCH, x) for x in ("gen_a", "gen_b", "gen_c"))
    gen_migration.generate(5, a)
    gen_migration.generate(5, b)
    gen_migration.generate(6, c)
    expect("generator: same seed gives identical tables and manifest", same_tree(a, b))
    expect("generator: another seed gives different tables",
           not filecmp.cmp(os.path.join(a, "udo_model.parquet"),
                           os.path.join(c, "udo_model.parquet"), shallow=False))


def migration():
    work = os.path.join(BUILD, "work", "migration_ref")
    with open(os.path.join(work, "in", "manifest.json")) as fh:
        manifest = json.load(fh)
    out = os.path.join(work, "out")
    expect("migration check: real output passes", not check_migration.check(out, manifest))
    row = os.path.join(SCRATCH, "mig_row")
    shutil.copytree(out, row)
    drop_last_row(os.path.join(row, "udos.parquet"))
    expect("migration check: one dropped row is rejected", bool(check_migration.check(row, manifest)))
    flip = os.path.join(SCRATCH, "mig_byte")
    shutil.copytree(out, flip)
    obj = sorted(p for p in glob.glob(os.path.join(flip, "_objects", "**", "*"), recursive=True)
                 if os.path.isfile(p))[0]
    with open(obj, "r+b") as fh:
        b = fh.read(1)
        fh.seek(0)
        fh.write(bytes([b[0] ^ 0xFF]))
    expect("migration check: one flipped object byte is rejected",
           bool(check_migration.check(flip, manifest)))
    fixed = os.path.join(SCRATCH, "mig_mended")
    shutil.copytree(out, fixed)
    mend(fixed, manifest)
    expect("migration check: output with the tolerated faults mended passes",
           not check_migration.check(fixed, manifest))
    zeros = os.path.join(SCRATCH, "mig_zeros")
    shutil.copytree(out, zeros)
    rewrite(zeros, "municipalities", "istat_code",
            lambda c: pc.cast(pc.cast(c, pa.int64()), pa.string()))
    expect("migration check: municipality codes without leading zeros are rejected",
           bool(check_migration.check(zeros, manifest)))


def rewrite(out, table, column, fn):
    path = os.path.join(out, f"{table}.parquet")
    files = sorted(glob.glob(os.path.join(path, "*.parquet"))) if os.path.isdir(path) else [path]
    for f in files:
        t = pq.read_table(f)
        i = t.schema.get_field_index(column)
        pq.write_table(t.set_column(i, column, fn(t.column(i))), f)


def mend(out, manifest):
    """What the output looks like once the tolerated faults are mended."""
    for key in manifest["defect_dangling"]:
        t, c = key.split(".")
        rewrite(out, t, c, lambda col: pc.utf8_lower(pc.utf8_trim_whitespace(col)))
    for key in manifest["passthrough_text"]:
        t, c = key.split(".")
        rewrite(out, t, c, lambda col: pc.utf8_trim_whitespace(pc.replace_substring(col, "\x00", "")))
    for t in check_migration.INT_ISTAT_TOLERATED:
        width = len(next(iter(manifest["istat_code"][t].values())))
        rewrite(out, t, "istat_code", lambda col, w=width: pc.utf8_lpad(pc.cast(col, pa.string()), w, "0"))


def catalog():
    work = os.path.join(BUILD, "work", "catalog")
    data, res = os.path.join(work, "data"), os.path.join(work, "results")
    names = run.ITERATIVE + run.DATAFLOW
    expect("catalog check: real results pass", run.oracle_check(data, res, names))
    bad = os.path.join(SCRATCH, "cat_row")
    shutil.copytree(res, bad)
    drop_last_row(os.path.join(bad, "q1_pricing_summary"))
    expect("catalog check: one dropped result row is rejected",
           not run.oracle_check(data, bad, names))


def main():
    shutil.rmtree(SCRATCH, ignore_errors=True)
    os.makedirs(SCRATCH)
    generator()
    migration()
    catalog()
    shutil.rmtree(SCRATCH, ignore_errors=True)
    print(f"{sum(results)}/{len(results)} passed")
    return 0 if all(results) else 1


if __name__ == "__main__":
    sys.exit(main())
