#!/usr/bin/env python3
"""The benchmark's own tests.

    python3 graftbench/test_bench.py        (from the repo root)

- the generator gives byte-identical files for the same seed and
  different ones for another seed;
- the crawl_wide pages carry exactly the items of the expected manifest;
- the output check accepts the right answer and rejects perturbed ones,
  and the cache tracker gives two identical jobs the same peak
  (graftbench.SelfTest, on a small local Spark session; needs the build).
"""
import os
import re
import subprocess
import sys
import tempfile
import unittest

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


def files(d):
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            out[name] = f.read()
    return out


class GeneratorTest(unittest.TestCase):
    def test_same_seed_gives_identical_bytes(self):
        for w in gen.SIZES:
            with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
                gen.generate(w, 7, a)
                gen.generate(w, 7, b)
                self.assertEqual(files(a), files(b), w)

    def test_other_seed_gives_other_inputs(self):
        for w in gen.SIZES:
            with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
                gen.generate(w, 7, a)
                gen.generate(w, 8, b)
                self.assertNotEqual(files(a), files(b), w)

    def test_documents_have_the_near_duplicate_share(self):
        with tempfile.TemporaryDirectory() as d:
            gen.generate("crawl_deep", 3, d)
            t = pq.read_table(os.path.join(d, "documents.parquet"))
            self.assertEqual(t.column_names, ["doc_id", "text", "lang", "source", "n_chars"])
            texts = t.column("text").to_pylist()
            self.assertTrue(all(x.isascii() and "  " not in x for x in texts))
            # an edited copy shares all but one or two words with its original
            words = [set(x.split(" ")) for x in texts]
            copies = sum(1 for i, w in enumerate(words)
                         if any(len(w & v) >= len(w) - 2 for v in words[:i]))
            self.assertTrue(0.05 * len(texts) <= copies <= 0.4 * len(texts), copies)

    def test_wide_pages_carry_the_planted_items(self):
        with tempfile.TemporaryDirectory() as d:
            gen.generate("crawl_wide", 3, d)
            pages = pq.read_table(os.path.join(d, "pages.parquet")).to_pylist()
            expected = pq.read_table(os.path.join(d, "expected.parquet")).to_pylist()
            n = gen.SIZES["crawl_wide"]
            self.assertEqual(len(pages), n * 6)
            self.assertEqual(len(expected), n * gen.PAGES * (gen.LIST_ITEMS + gen.CMT_ITEMS))
            self.assertGreater(min(len(p["html"]) for p in pages), 20000)
            html = {p["url"]: p["html"].decode() for p in pages}
            for e in expected[:: max(1, len(expected) // 50)]:
                url = f"http://w{e['doc_id'] % 50}.test/d{e['doc_id']}/{e['crawl']}/p{e['page_no']}.html"
                first = e["payload"].split(gen.SEP)[0]
                self.assertIn(f">{first}</", html[url])
            # the selectors' anchors appear once per page, in the planted part only
            for url, h in html.items():
                anchor = "doclist" if "/list/" in url else "commentModule"
                self.assertEqual(len(re.findall(f'id="{anchor}"', h)), 1, url)


class CheckTest(unittest.TestCase):
    def test_perturbed_results_are_rejected(self):
        out = build.build_dir()
        build.build(out)
        with tempfile.TemporaryDirectory() as work:
            r = subprocess.run(["java", "-Xmx1g"]
                               + [x for p in run.ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
                               + [f"-Dlog4j.configurationFile={run.BENCH_DIR}/log4j2.properties",
                                  "-cp", build.classpath(out), "graftbench.SelfTest", work],
                               capture_output=True, text=True, timeout=300)
        sys.stdout.write(r.stdout)
        self.assertEqual(r.returncode, 0, r.stdout + r.stderr[-2000:])
        self.assertNotIn("FAIL", r.stdout)


if __name__ == "__main__":
    unittest.main()
