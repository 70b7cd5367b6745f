#!/usr/bin/env python3
"""Self-tests for the benchmark's own code.

  python3 perfbench/selftest.py [--workloads ingest,report,curate]

0. BENCHMARK.json names exactly the metrics run.py prints.
1. Inputs: the same seed writes byte-identical files, another seed
   different ones (every workload's generator).
2. Checkers: on one real run per workload, the checker passes the
   program's outputs and rejects a copy with one deliberate fault:
   one lake row dropped (ingest), one R1 count changed (report), one
   result row altered (curate). A checker that passed both would be
   checking nothing.
3. Replica: a traced ingest run feeds every micro-batch both to
   `IngestPipeline.processBatch` and to the step-by-step replay whose
   step times split its span; both must leave the same lake and the
   same gate state.
Exits non-zero on the first failure.
"""
import argparse
import duckdb
import glob
import hashlib
import json
import os
import shutil
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


def test_spec():
    with open(os.path.join(run.REPO, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    for key, units in (("end_to_end", run.UNITS), ("per_layer", run.layer_units())):
        assert {m["name"]: m["unit"] for m in spec[key]} == units, f"{key} differs"
    print("ok   BENCHMARK.json lists the metrics run.py prints")


def digest(root):
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def test_inputs(workload):
    base = os.path.join(run.WORK, f"selftest-{os.getpid()}")
    digests = {}
    try:
        for name, seed in (("a", 5), ("b", 5), ("c", 6)):
            path = os.path.join(base, name)
            gen.generate(workload, path, seed)
            digests[name] = digest(path)
    finally:
        shutil.rmtree(base, ignore_errors=True)
    assert digests["a"] == digests["b"], f"{workload}: same seed, different inputs"
    assert digests["a"] != digests["c"], f"{workload}: different seeds, same inputs"
    print(f"ok   {workload}: inputs repeat per seed and differ across seeds")


def corrupt_ingest(work, planted, res):
    store = os.path.join(work, "ingest", "out", "store")
    done = {o["name"] for o in res["ops"]} | {"p00"}
    items = [it for it in planted if f"p{it['poll']:02d}" in done]
    assert not checks.check_lake(store, items), "ingest: real lake rejected"
    victim = next(it for it in items if it["kind"] == "fresh" and it["poll"] > 0)
    table = pa.concat_tables(pq.read_table(f) for f in sorted(glob.glob(f"{store}/*.parquet")))
    bad = store + "_bad"
    os.makedirs(bad)
    pq.write_table(table.filter(pc.not_equal(table["link"], victim["link"])),
                   os.path.join(bad, "part.parquet"))
    got = checks.check_lake(bad, items)
    assert got == {f"p{victim['poll']:02d}"}, f"ingest: dropped row not caught ({got})"
    print("ok   ingest: lake passes, lake with one row dropped fails")


def corrupt_report(work, planted, res):
    root = os.path.join(work, "report")
    archive = os.path.join(root, "archive.jsonl")
    op = res["ops"][0]
    out = os.path.join(root, "out", op["round"])
    assert checks.check_report_day(archive, op["name"], out), "report: real outputs rejected"
    bad = out + "_bad"
    shutil.copytree(out, bad)
    path = os.path.join(bad, "r1.tsv")
    with open(path, encoding="utf-8") as fh:
        rows = [ln.split("\t") for ln in fh.read().splitlines()]
    rows[0][1] = str(int(rows[0][1]) + 1)
    with open(path, "w", encoding="utf-8") as fh:
        fh.write("\n".join("\t".join(r) for r in rows) + "\n")
    assert not checks.check_report_day(archive, op["name"], bad), "report: changed R1 not caught"
    print("ok   report: outputs pass, one R1 count changed fails")


def corrupt_curate(work, planted, res):
    root = os.path.join(work, "curate")
    rnd = res["ops"][0]["round"]
    corpus, out = os.path.join(root, rnd), os.path.join(root, "out", rnd)
    names = {o["name"] for o in res["ops"] if o["round"] == rnd}
    passed = checks.check_curate_round(corpus, out)
    assert passed == names, f"curate: real results rejected ({names - passed})"
    bad = out + "_bad"
    shutil.copytree(out, bad)
    victim = sorted(names)[0]
    files = sorted(glob.glob(os.path.join(bad, victim, "*.parquet")))
    table = pa.concat_tables(pq.read_table(f) for f in files)
    for f in files:
        os.remove(f)
    col = next(i for i, f in enumerate(table.schema)
               if pa.types.is_integer(f.type) or pa.types.is_floating(f.type))
    vals = table.column(col).to_pylist()
    vals[0] = (vals[0] or 0) + 1
    table = table.set_column(col, table.schema.field(col),
                             pa.array(vals, table.schema.field(col).type))
    pq.write_table(table, os.path.join(bad, victim, "part.parquet"))
    got = checks.check_curate_round(corpus, bad)
    assert got == names - {victim}, f"curate: altered {victim} row not caught"
    print(f"ok   curate: results pass, one altered {victim} row fails")


def rows(path):
    """Every row of the parquet files under `path`, as a sorted list."""
    con = duckdb.connect()
    return sorted(map(repr, con.execute(
        f"SELECT * FROM read_parquet('{path}/**/*.parquet', union_by_name=true)").fetchall()))


def replica_matches(work, planted, res):
    out = os.path.join(work, "ingest", "out")
    for part in ("store", "seen", "lsh/bands", "lsh/shingles", "lsh/sizes"):
        real, copy = rows(os.path.join(out, part)), rows(os.path.join(out, "replay", part))
        assert real and real == copy, f"ingest: replay {part} differs from processBatch's"
    print("ok   ingest: the traced replay leaves the lake and gate state processBatch does")


CORRUPT = {"ingest": corrupt_ingest, "report": corrupt_report, "curate": corrupt_curate}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workloads", default="ingest,report,curate")
    a = ap.parse_args()
    test_spec()
    for w in a.workloads.split(","):
        test_inputs(w)
    for w in a.workloads.split(","):
        res = run.measure(w, 7, 1, 0, CORRUPT[w])
        assert res["failed"] == 0 and res["correct"], f"{w}: run not clean: {res}"
    if "ingest" in a.workloads.split(","):
        res = run.measure("ingest", 7, 1, 1, replica_matches)
        assert res["failed"] == 0 and res["correct"], f"ingest traced: run not clean: {res}"


if __name__ == "__main__":
    main()
