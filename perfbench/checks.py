"""Output checks, computed apart from the program.

Each checker takes (work dir, what gen.py planted, the JVM's result) and
returns (failed, docs, correct): the set of (round, op) pairs whose
outputs are wrong, how many input documents the run completed, and
whether everything outside the timed ops (warm-up output, stray rows)
checked out too. A check that
fails marks its op failed; nothing here trusts the program's own
numbers where the planted record or DuckDB can say what they must be.
"""
import math
import os
import subprocess
import sys

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TPCH_TABLES = ["region", "nation", "customer", "supplier", "part",
               "orders", "lineitem", "events"]


def _round4(x):
    return math.floor(x * 1e4 + 0.5) / 1e4


def jaccard3(a, b):
    """Exact 3-gram Jaccard over space-split tokens, as sets."""
    def sh(t):
        toks = [w for w in t.split(" ") if w]
        return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}
    x, y = sh(a), sh(b)
    return len(x & y) / len(x | y) if x | y else 0.0


# ---------------------------------------------------------------- ingest
def check_lake(store, items):
    """Names of the polls whose items the lake gets wrong, plus "?" when
    the lake holds a link nobody planted."""
    bad = set()
    landed = {it["link"]: it for it in items
              if it["kind"] not in ("republish", "infeed_dup")}
    rows = {}
    if os.path.isdir(store):
        con = duckdb.connect()
        for r in con.execute(
                "SELECT link, dup_frac, near_dup, match_id, jacc, contaminated "
                f"FROM read_parquet('{store}/*.parquet')").fetchall():
            rows.setdefault(r[0], []).append(r)
    for link, it in landed.items():
        got = rows.get(link, [])
        p = f"p{it['poll']:02d}"
        if len(got) != 1:                       # lands exactly once
            bad.add(p)
            continue
        _, dup_frac, near, match, jacc, contam = got[0]
        if it["kind"] == "exact" and not (
                dup_frac == 1.0 and near and jacc == 1.0 and match == it["origin"]):
            bad.add(p)
        if near:                                # every flagged pair
            other = landed.get(match)
            if other is None or abs(
                    jacc - _round4(jaccard3(it["summary"], other["summary"]))) > 1e-9:
                bad.add(p)
        if bool(contam) != (it["kind"] == "contam"):
            bad.add(p)
    if rows.keys() - landed.keys():
        bad.add("?")
    return bad


def ingest(work, planted, res):
    """The lake after the run holds the warm-up poll and every timed one."""
    done = {o["name"] for o in res["ops"]}
    polls = done | {min(f"p{it['poll']:02d}" for it in planted)}
    items = [it for it in planted if f"p{it['poll']:02d}" in polls]
    bad = check_lake(os.path.join(work, "ingest", "out", "store"), items)
    docs = sum(1 for it in items if it["kind"] not in ("republish", "infeed_dup")
               and f"p{it['poll']:02d}" in done)
    return {("ingest", p) for p in bad & done}, docs, not (bad - done)


# ---------------------------------------------------------------- report
def _tsv(path):
    with open(path, encoding="utf-8") as fh:
        return [ln.split("\t") for ln in fh.read().splitlines() if ln]


def check_report_day(archive, day, out):
    """True when one day's outputs agree with DuckDB over the same JSONL."""
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW a AS SELECT * FROM read_json('{archive}', "
        "format='newline_delimited', columns={id: 'BIGINT', title: 'VARCHAR', "
        "content: 'VARCHAR', keywords: 'VARCHAR[]', published_at: 'TIMESTAMP', "
        "category: 'VARCHAR', embedding: 'FLOAT[]'}) "
        f"WHERE CAST(published_at AS DATE) = DATE '{day}'")
    r1 = sorted(con.execute("SELECT category, count(*) FROM a GROUP BY 1").fetchall())
    r2 = sorted(con.execute(
        "SELECT k, count(*) FROM (SELECT unnest(keywords) AS k FROM a) GROUP BY 1").fetchall())
    ids = {r[0] for r in con.execute("SELECT id FROM a").fetchall()}
    emb = {r[0] for r in con.execute("SELECT id FROM a WHERE embedding IS NOT NULL").fetchall()}
    got_r1 = sorted((c, int(n)) for c, n in _tsv(os.path.join(out, "r1.tsv")))
    got_r2 = sorted((c, int(n)) for c, n in _tsv(os.path.join(out, "r2.tsv")))
    r3 = _tsv(os.path.join(out, "r3.tsv"))
    r4 = _tsv(os.path.join(out, "r4.tsv"))
    k = min(5, len(emb))
    with open(os.path.join(out, "report.pdf"), "rb") as fh:
        pdf = fh.read()
    return (got_r1 == r1 and got_r2 == r2
            and len(r3) == len(ids) and {int(r[0]) for r in r3} == ids
            and len(r4) == len(emb) and {int(r[0]) for r in r4} == emb
            and all(0 <= int(r[1]) < k for r in r4)
            and pdf.startswith(b"%PDF-") and pdf.rstrip().endswith(b"%%EOF"))


def report(work, planted, res):
    failed, docs = set(), 0
    root = os.path.join(work, "report")
    for o in res["ops"]:
        out = os.path.join(root, "out", o["round"])
        docs += planted["timed"][o["name"]]
        try:
            ok = check_report_day(os.path.join(root, "archive.jsonl"), o["name"], out)
        except (OSError, ValueError, duckdb.Error):
            ok = False
        if not ok:
            failed.add((o["round"], o["name"]))
    return failed, docs, True


# ---------------------------------------------------------------- curate
def check_curate_round(corpus, out):
    """Query names tools/check.py passes (oracle OK, or rows-only with rows)."""
    for t in TPCH_TABLES:   # check.py opens all ten tables; these stay unread
        p = os.path.join(corpus, f"{t}.parquet")
        if not os.path.exists(p):
            pq.write_table(pa.table({"unused": pa.array([0], pa.int64())}), p)
    r = subprocess.run([sys.executable, os.path.join(REPO, "tools", "check.py"),
                        corpus, out], stdout=subprocess.PIPE, text=True)
    passed = set()
    for line in r.stdout.splitlines():
        if line.startswith("OK ") or line.startswith("ok? "):
            passed.add(line.split()[1].rstrip(":"))
    return passed


def curate(work, planted, res):
    """Documents are the rows of the tables the selected queries' plans
    read (selected.txt: name, family, tables)."""
    failed, docs = set(), 0
    root = os.path.join(work, "curate")
    with open(os.path.join(root, "selected.txt")) as fh:
        tables = {t for ln in fh.read().splitlines()
                  for t in (ln.split("\t") + [""])[2].split(",") if t}
    for rnd in sorted({o["round"] for o in res["ops"]}):
        passed = check_curate_round(os.path.join(root, rnd), os.path.join(root, "out", rnd))
        failed |= {(rnd, o["name"]) for o in res["ops"]
                   if o["round"] == rnd and o["name"] not in passed}
        docs += sum(planted[rnd][t] for t in tables)
    return failed, docs, True


CHECKS = {"ingest": ingest, "report": report, "curate": curate}
