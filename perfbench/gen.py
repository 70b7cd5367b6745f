"""Seeded input generators for the three workloads.

Every input is a function of (workload, seed): the same seed writes
byte-identical files, another seed writes different ones. Each
generator also returns the record of what it planted, which the
checkers in checks.py compare the program's outputs against.

Layout written under <dir>:
  ingest/feeds/<poll>/<feed>.xml           RSS 2.0, 29 feeds per poll
  ingest/eval/documents.parquet            eval passages (decontam set)
  report/warm.jsonl, report/archive.jsonl  news_archive JSONL
  report/warm_days.txt, report/days.txt    one day per line
  curate/warm, curate/c<k>                 documents + embeddings tables
"""
import json
import os
import random
from xml.sax.saxutils import escape

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))

FEEDS = 29              # the reference producer's feed list
# New links per poll: the reference's 5,000-article day over 288
# five-minute polls is 17.4 a poll, rounded up.
NEW_PER_POLL = 18
# Planted per poll after the first. Assumed shares, no source in the
# reference: re-published links (which its producer's URL dedup would
# drop), exact and near copies under new links, eval-contaminated items.
REPUBLISH, EXACT, NEAR, CONTAM = 2, 2, 2, 1
POLLS = 5               # ingest polls: one warm-up, then rounds of two
REPORT_DAYS = 6         # timed days; a run cycles through them
REPORT_PER_DAY = 100
CURATE_CORPORA = 3      # timed corpora on offer, one per round
EMBED_DIM = 768
CATEGORIES = ["IT_과학", "건강", "경제", "교육", "국제", "라이프스타일", "문화",
              "사건사고", "사회일반", "산업", "스포츠", "여성복지", "여행레저",
              "연예", "정치", "지역", "취미", "미분류"]
# Marker words the program's enrichers react to (classify, sentiment).
MARKERS = ["인공지능", "반도체", "코스피", "금리", "국회", "선거", "야구",
           "축구", "영화", "공연", "정부", "정책", "상승", "하락", "개선", "감소"]
SYLLABLES = [chr(c) for c in range(0xAC00, 0xD7A4, 97)]   # 116 syllables


def _words(rng, n, syllables, lo=2, hi=3):
    out, seen = [], set()
    while len(out) < n:
        w = "".join(rng.choice(syllables) for _ in range(rng.randint(lo, hi)))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def _tag(seed):
    """A short token suffix derived from the seed."""
    return format(random.Random(f"tag:{seed}").getrandbits(30), "x")


# --------------------------------------------------------------- ingest
def _rss(items):
    body = "".join(
        "<item><title>{}</title><link>{}</link><description>{}</description>"
        "<author>{}</author><pubDate>{}</pubDate></item>".format(
            escape(it["title"]), escape(it["link"]), escape(it["summary"]),
            escape(it["author"]), it["updated"])
        for it in items)
    return ('<?xml version="1.0" encoding="UTF-8"?><rss version="2.0"><channel>'
            f"<title>feed</title>{body}</channel></rss>")


def _ingest_polls(rng, tag, vocab, passages):
    """POLLS polls; returns (polls, planted) where polls[p] is a list of
    per-feed item lists and planted describes every item."""
    uid = [0]
    pool_exact, pool_near, published = [], [], []

    def item(kind, summary, origin, poll):
        uid[0] += 1
        link = f"http://news.example/{tag}/{uid[0]:04d}"
        minute, sec = divmod(rng.randrange(300) + poll * 300, 60)
        return {"kind": kind, "link": link, "summary": summary,
                "origin": origin, "title": f"기사 {uid[0]}", "poll": poll,
                "author": rng.choice(["kim", "lee", "park", "choi"]),
                "updated": f"2025-06-01 09:{minute:02d}:{sec:02d}"}

    def fresh_text():
        toks = [rng.choice(vocab) for _ in range(rng.randint(30, 48))]
        toks[rng.randrange(len(toks))] = rng.choice(MARKERS)
        return " ".join(toks)

    polls, planted = [], []
    for p in range(POLLS):
        items = []
        if p > 0:
            # re-published links: the same item again, in a later poll
            for it in rng.sample(published, REPUBLISH):
                items.append(dict(it, kind="republish", poll=p))
            # exact copies of earlier items under a new link
            for _ in range(EXACT):
                o = pool_exact.pop(0)
                items.append(item("exact", o["summary"], o["link"], p))
            # near copies: a run of two to four tokens replaced
            for _ in range(NEAR):
                o = pool_near.pop(0)
                toks = o["summary"].split(" ")
                at, k = rng.randrange(len(toks) - 4), rng.randint(2, 4)
                toks[at:at + k] = [rng.choice(vocab) for _ in range(k)]
                items.append(item("near", " ".join(toks), o["link"], p))
        # contaminated: an eval passage inside the summary
        for _ in range(CONTAM):
            items.append(item("contam", passages.pop() + " " + fresh_text(), None, p))
        while sum(it["kind"] != "republish" for it in items) < NEW_PER_POLL:
            it = item("fresh", fresh_text(), None, p)
            items.append(it)
            # the first poll's items are the originals of later copies
            if len(pool_exact) < EXACT * (POLLS - 1):
                pool_exact.append(it)
            elif len(pool_near) < NEAR * (POLLS - 1):
                pool_near.append(it)
        # one in-poll duplicate: the same item in two feeds
        items.append(dict(items[-1], kind="infeed_dup"))
        published.extend(it for it in items
                         if it["kind"] not in ("republish", "infeed_dup"))
        planted.extend(items)
        rng.shuffle(items)
        feeds = [[] for _ in range(FEEDS)]
        for i, it in enumerate(items):
            feeds[i % FEEDS].append(it)
        polls.append(feeds)
    return polls, planted


def gen_ingest(root, seed):
    rng = random.Random(f"ingest:{seed}")
    tag = _tag(seed)
    vocab = _words(rng, 4000, SYLLABLES[:80])
    eval_vocab = _words(rng, 400, SYLLABLES[80:])
    passages = [" ".join(rng.choice(eval_vocab) for _ in range(24))
                for _ in range(POLLS * CONTAM)]
    d = os.path.join(root, "ingest")
    os.makedirs(os.path.join(d, "eval"))
    pq.write_table(pa.table({
        "doc_id": pa.array([97 * i for i in range(len(passages))], pa.int64()),
        "text": passages}), os.path.join(d, "eval", "documents.parquet"))
    polls, planted = _ingest_polls(rng, tag, vocab, list(passages))
    for p, feeds in enumerate(polls):
        pd = os.path.join(d, "feeds", f"p{p:02d}")
        os.makedirs(pd)
        for f, its in enumerate(feeds):
            with open(os.path.join(pd, f"f{f:02d}.xml"), "w", encoding="utf-8") as fh:
                fh.write(_rss(its))
    return planted


# --------------------------------------------------------------- report
def _archive(path, rng, nrng, days, first_id, vocab, kw_vocab, centres):
    lines, per_day = [], {}
    aid = first_id
    for day in days:
        per_day[day] = 0
        for _ in range(REPORT_PER_DAY):
            aid += 1
            sents = []
            for _ in range(rng.randint(3, 5)):
                toks = [rng.choice(vocab) for _ in range(rng.randint(6, 12))]
                if rng.random() < 0.5:
                    toks.insert(0, rng.choice(MARKERS))
                sents.append(" ".join(toks) + "다.")
            emb = None
            if rng.random() >= 0.05:
                c = centres[rng.randrange(len(centres))]
                v = c + nrng.normal(0.0, 0.05, EMBED_DIM)
                emb = [round(x, 4) for x in v.tolist()]
            hh, mm = rng.randrange(24), rng.randrange(60)
            lines.append(json.dumps({
                "id": aid, "title": f"제목 {aid} " + rng.choice(vocab),
                "content": " ".join(sents),
                "keywords": rng.sample(kw_vocab, rng.randint(0, 6)),
                "published_at": f"{day}T{hh:02d}:{mm:02d}:00",
                "category": rng.choice(CATEGORIES), "embedding": emb},
                ensure_ascii=False))
            per_day[day] += 1
    rng.shuffle(lines)
    with open(path, "w", encoding="utf-8") as fh:
        fh.write("\n".join(lines) + "\n")
    return per_day


def gen_report(root, seed):
    rng = random.Random(f"report:{seed}")
    nrng = np.random.default_rng(seed)
    vocab = _words(rng, 1500, SYLLABLES)
    kw_vocab = _words(rng, 60, SYLLABLES)
    # as many centres as the report's KMeans has clusters (k = 5), so that
    # it converges in a steady number of iterations
    centres = [nrng.normal(0.0, 1.0, EMBED_DIM) for _ in range(5)]
    d = os.path.join(root, "report")
    os.makedirs(d)
    warm_days = ["2025-04-01"]
    days = [f"2025-05-{i + 1:02d}" for i in range(REPORT_DAYS)]
    planted = {
        "warm": _archive(os.path.join(d, "warm.jsonl"), rng, nrng, warm_days,
                         10_000_000, vocab, kw_vocab, centres),
        "timed": _archive(os.path.join(d, "archive.jsonl"), rng, nrng, days,
                          20_000_000, vocab, kw_vocab, centres)}
    for name, ds in (("warm_days.txt", warm_days), ("days.txt", days)):
        with open(os.path.join(d, name), "w") as fh:
            fh.write("\n".join(ds) + "\n")
    return planted


# --------------------------------------------------------------- curate
def _corpus(out, tag, k, docs, embs, n=None):
    """The base tables re-vocabularied with a token suffix (every token
    of every document gets `_<tag>`), embeddings shifted by a small
    per-corpus offset: planted near-duplicate structure carries over."""
    os.makedirs(out)
    ids = docs.column("doc_id").to_pylist()[:n]
    texts = [" ".join(t + "_" + tag for t in s.split(" ") if t)
             for s in docs.column("text").to_pylist()[:n]]
    pq.write_table(pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": docs.column("lang").slice(0, len(ids)).combine_chunks(),
        "source": docs.column("source").slice(0, len(ids)).combine_chunks(),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        os.path.join(out, "documents.parquet"))
    vecs = embs.column("embedding").to_pylist()[:n]
    off = np.float32(1e-4 * (k + 1))
    pq.write_table(pa.table({
        "vec_id": embs.column("vec_id").slice(0, len(vecs)).combine_chunks(),
        "embedding": pa.array([list(np.asarray(v, np.float32) + off) for v in vecs],
                              pa.list_(pa.float32())),
        "label": embs.column("label").slice(0, len(vecs)).combine_chunks()}),
        os.path.join(out, "embeddings.parquet"))
    return {"documents": len(ids), "embeddings": len(vecs)}


def gen_curate(root, seed):
    docs = pq.read_table(os.path.join(HERE, "data", "documents.parquet"))
    embs = pq.read_table(os.path.join(HERE, "data", "embeddings.parquet"))
    tag = _tag(seed)
    d = os.path.join(root, "curate")
    rows = {"warm": _corpus(os.path.join(d, "warm"), "w" + tag, 0, docs, embs, 40)}
    for k in range(CURATE_CORPORA):
        rows[f"c{k}"] = _corpus(os.path.join(d, f"c{k}"), f"{k}{tag}", k + 1,
                                docs, embs)
    return rows


GENERATORS = {"ingest": gen_ingest, "report": gen_report, "curate": gen_curate}


def generate(workload, root, seed):
    os.makedirs(root, exist_ok=True)
    return GENERATORS[workload](root, seed)
