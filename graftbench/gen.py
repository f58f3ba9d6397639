#!/usr/bin/env python3
"""Seeded input generator for the graft benchmark.

    python3 graftbench/gen.py --workload <name> --seed <n> --out <dir>

Everything written is a pure function of (workload, seed): the same pair
gives byte-identical files. The engine under test only ever reads these
files.

crawl_deep
    documents.parquet in the schema of the repo's test data
    (doc_id BIGINT, text, lang, source, n_chars BIGINT). Texts are pure
    ASCII and single-spaced (the fixture corpus and its oracles rely on
    that). About a fifth of the documents are edited copies of an earlier
    one (one or two words replaced), so near-duplicate clustering has real
    work to do.

crawl_wide
    pages.parquet (url, warc_ts, html, text, lang): for every document a
    3-page CSS list family and a 3-page XPath comment family in the shapes
    of CrawlQueries.listJob / cmtJob, each page wrapped in tens of KB of
    head, script, style, nav and footer boilerplate.
    expected.parquet (crawl, doc_id, page_no, pos, payload): the items
    planted in those pages, in the form the benchmark checks crawl output
    against.
"""
import argparse
import datetime
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

# Input sizes per workload (documents; crawl_wide turns each into 6 pages).
SIZES = {"crawl_wide": 400, "crawl_deep": 6}
NEAR_DUP_SHARE = 0.2
LIST_ITEMS = 12      # planted list items per crawl_wide list page
CMT_ITEMS = 10       # planted comments per crawl_wide comment page
PAGES = 3            # listJob / cmtJob both stop after page 3
BOILERPLATE_SETS = 24
SEP = "\x1f"         # field separator inside an expected payload
EPOCH = datetime.datetime(2024, 1, 1)
LANGS = ["en", "de", "fr", "es", "zh"]

LETTERS = "abcdefghijklmnopqrstuvwxyz"


def vocabulary(rng, n):
    """n distinct random lower-case words (3-9 letters)."""
    words = set()
    while len(words) < n:
        words.add("".join(rng.choice(LETTERS) for _ in range(rng.randint(3, 9))))
    return sorted(words)


def sentence(rng, vocab, lo, hi):
    return " ".join(rng.choice(vocab) for _ in range(rng.randint(lo, hi)))


def documents(rng, n):
    """(doc_id, text, lang) rows; ~NEAR_DUP_SHARE are edited copies."""
    vocab = vocabulary(rng, 4000)
    docs, originals = [], []
    for d in range(n):
        if originals and rng.random() < NEAR_DUP_SHARE:
            # copies are made of originals only, so clusters stay shallow
            words = docs[rng.choice(originals)][1].split(" ")
            for _ in range(rng.randint(1, 2)):
                words[rng.randrange(len(words))] = rng.choice(vocab)
            text = " ".join(words)
        else:
            text = sentence(rng, vocab, 35, 80)
            originals.append(d)
        docs.append((d, text, rng.choice(LANGS)))
    return docs


def write_documents(rows, path):
    table = pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "text": pa.array([r[1] for r in rows], pa.string()),
        "lang": pa.array([r[2] for r in rows], pa.string()),
        "source": pa.array(["graftbench"] * len(rows), pa.string()),
        "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
    })
    pq.write_table(table, path)


# ---------------------------------------------------------------- crawl_wide

def boilerplate(rng, vocab):
    """One (head, nav, aside, footer) set: tens of KB of markup that a real
    page carries around its content and the selectors must skip."""
    def words(lo, hi):
        return sentence(rng, vocab, lo, hi)

    metas = "".join(f'<meta name="m{i}" content="{words(4, 12)}">' for i in range(12))
    links = "".join(f'<link rel="stylesheet" href="/static/{rng.choice(vocab)}.css">' for _ in range(6))
    style = "".join(
        f".{rng.choice(vocab)} > .{rng.choice(vocab)} {{ margin: {rng.randint(0, 40)}px; "
        f"color: #{rng.randrange(16 ** 6):06x}; }}\n" for _ in range(110))
    script = "".join(
        f"function {rng.choice(vocab)}_{i}(a, b) {{ for (var i = 0; i < a.length; i++) "
        f"{{ if (a[i] < b && b > {rng.randint(0, 99)}) {{ b = \"{words(2, 6)}\"; }} }} return b; }}\n"
        for i in range(100))
    nav = "".join(
        f'<li class="nav-item"><a class="nav-link" href="/{rng.choice(vocab)}/{rng.choice(vocab)}.html">'
        f"{words(1, 3)}</a></li>" for _ in range(70))
    aside = "".join(
        f'<div class="card"><h4>{words(2, 5)}</h4><p>{words(15, 40)}</p>'
        f'<a href="/t/{rng.choice(vocab)}.html">{words(1, 2)}</a></div>' for _ in range(16))
    footer = "".join(
        f'<div class="col"><h5>{words(1, 3)}</h5><ul>'
        + "".join(f'<li><a href="/f/{rng.choice(vocab)}.html">{words(1, 3)}</a></li>' for _ in range(10))
        + "</ul></div>" for _ in range(6))
    tail = "".join(f'<script>window.{rng.choice(vocab)} = {{"k": "{words(3, 8)}", "n": {i}}};</script>'
                   for i in range(25))
    head = (f'<head><meta charset="utf-8"><title>{words(3, 7)}</title>{metas}{links}'
            f"<style>{style}</style><script>{script}</script></head>")
    return head, f'<header><nav><ul class="nav">{nav}</ul></nav></header>', \
        f'<aside class="side">{aside}</aside>', f"<footer>{footer}{tail}</footer>"


def page(rng, pool, main):
    """A page around `main`; each boilerplate part comes from a different
    random set of the pool, so pages differ without generating every one
    of them from scratch."""
    head, nav, aside, footer = (rng.choice(pool)[part] for part in range(4))
    return (f"<!DOCTYPE html><html>{head}<body>{nav}<div class=\"wrap\">{aside}"
            f"<main>{main}</main></div>{footer}</body></html>")


def wide_inputs(rng, n):
    """(pages, expected) for the crawl_wide corpus of n documents."""
    vocab = vocabulary(rng, 4000)
    pool = [boilerplate(rng, vocab) for _ in range(BOILERPLATE_SETS)]
    pages, expected = [], []
    for d in range(n):
        host = f"w{d % 50}.test"
        base = f"http://{host}/d{d}"
        for k in range(1, PAGES + 1):
            # ---- list family (CrawlQueries.listJob: "#doclist > li")
            items = []
            for i in range(LIST_ITEMS):
                title = sentence(rng, vocab, 2, 6)
                snip = sentence(rng, vocab, 3, 8)
                date = f"2024-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"
                if rng.random() < 0.5:
                    href, link = f"art_{d}_{k}_{i}.html", f"{base}/list/art_{d}_{k}_{i}.html"
                else:
                    href = link = f"http://{rng.choice(vocab)}.test/a/{d}/{k}/{i}.html"
                items.append(f'<li><a class="tit" href="{href}" title="{snip}">{title}</a>'
                             f'<span class="date">{date}</span></li>')
                expected.append(("list", d, k, i, SEP.join([title, link, date, snip])))
            pager = f'<div class="pager"><a class="next" href="p{k + 1}.html">next</a></div>' \
                if k < PAGES else ""
            main = f'<h1>{sentence(rng, vocab, 2, 5)}</h1><ul id="doclist">{"".join(items)}</ul>{pager}'
            pages.append((f"{base}/list/p{k}.html", page(rng, pool, main)))

            # ---- comment family (CrawlQueries.cmtJob: xpath scope/leaf)
            cmts = []
            for i in range(CMT_ITEMS):
                content = sentence(rng, vocab, 4, 16)
                ctime = f"2024-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d} {rng.randint(0, 23):02d}:00"
                cmts.append('<div class="item"><div class="contentInfo">'
                            f'<div class="commentDetail">{content}</div><div class="commentFooter">'
                            f'<div class="commentTime">{ctime}</div></div></div></div>')
                expected.append(("cmt", d, k, i, SEP.join([content, ctime])))
            disabled = "true" if k == PAGES else "false"
            main = ('<div id="commentModule"><div class="commentList">' + "".join(cmts) + "</div>"
                    '<div class="myPagination"><ul><li class=" ant-pagination-prev"><a href="#">prev</a></li>'
                    f'<li class=" ant-pagination-next" aria-disabled="{disabled}"><a href="p{k + 1}.html">'
                    "next</a></li></ul></div></div>")
            pages.append((f"{base}/cmt/p{k}.html", page(rng, pool, main)))
    return pages, expected


def write_wide(pages, expected, out):
    pq.write_table(pa.table({
        "url": pa.array([p[0] for p in pages], pa.string()),
        "warc_ts": pa.array([EPOCH + datetime.timedelta(seconds=i) for i in range(len(pages))],
                            pa.timestamp("us")),
        "html": pa.array([p[1].encode("utf-8") for p in pages], pa.binary()),
        "text": pa.array([""] * len(pages), pa.string()),
        "lang": pa.array(["en"] * len(pages), pa.string()),
    }), os.path.join(out, "pages.parquet"))
    pq.write_table(pa.table({
        "crawl": pa.array([e[0] for e in expected], pa.string()),
        "doc_id": pa.array([e[1] for e in expected], pa.int64()),
        "page_no": pa.array([e[2] for e in expected], pa.int64()),
        "pos": pa.array([e[3] for e in expected], pa.int64()),
        "payload": pa.array([e[4] for e in expected], pa.string()),
    }), os.path.join(out, "expected.parquet"))


def generate(workload, seed, out):
    if workload not in SIZES:
        raise SystemExit(f"unknown workload {workload!r}; expected one of {sorted(SIZES)}")
    os.makedirs(out, exist_ok=True)
    rng = random.Random(f"{workload}:{seed}")
    n = SIZES[workload]
    if workload == "crawl_wide":
        write_wide(*wide_inputs(rng, n), out)
    else:
        write_documents(documents(rng, n), os.path.join(out, "documents.parquet"))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    generate(a.workload, a.seed, a.out)


if __name__ == "__main__":
    main()
