"""A/B the HTML parser of two git revisions in one process.

    python tools/parser_ab.py <rev_a> <rev_b> [--pairs 20] [--seed 3]

Copies ``html5ever_elixir_spark/parser/`` of each revision into a
temporary directory as two packages (``.`` means the working tree), then

1. checks that both give identical output (tree, node ids, parse-error
   total, ``extract_all``) on every input of
   ``tests/test_parser_digest.py``, and exits 1 at the first difference;
2. times parse + extract on two corpora in interleaved pairs, the side
   that runs first alternating from pair to pair:

   * ``pages``: 400 ``small_pages``-shaped documents (the benchmark's
     documents generator through the ``_HTML_EXPR`` template);
   * ``crawl``: 24 crawl-shaped pages (~27 KB, ~900 nodes).

Each side of a pair is one pass over the corpus measured with
``time.thread_time()``: CPU time of this thread, so other processes on a
shared host disturb it less than wall time. It prints each side's median
and quartiles in microseconds per document, the ratio of the medians and
how many pairs each side won. Run it from the repository root.
"""

from __future__ import annotations

import argparse
import importlib
import io
import shutil
import statistics
import subprocess
import sys
import tarfile
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PARSER = "html5ever_elixir_spark/parser"
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(ROOT / "tests"))


def load_parser(rev: str, tmp: Path, pkg: str):
    """Import ``PARSER`` of git revision ``rev`` (or the working tree for
    ``.``) as package ``pkg``; returns its (api, extract) modules."""
    dest = tmp / pkg
    if rev == ".":
        shutil.copytree(ROOT / PARSER, dest,
                        ignore=shutil.ignore_patterns("__pycache__"))
    else:
        blob = subprocess.run(
            ["git", "-C", str(ROOT), "archive", rev, PARSER],
            check=True, capture_output=True,
        ).stdout
        with tarfile.open(fileobj=io.BytesIO(blob)) as tar:
            tar.extractall(tmp / f"{pkg}_src")
        shutil.move(str(tmp / f"{pkg}_src" / PARSER), dest)
    return (importlib.import_module(f"{pkg}.api"),
            importlib.import_module(f"{pkg}.extract"))


def pages_corpus(seed: int) -> list[str]:
    import duckdb

    from html5ever_elixir_spark.sources.pages import pages_select_sql
    from perfbench.inputs import make_documents

    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR, "
                    "lang VARCHAR)")
        con.executemany("INSERT INTO documents VALUES (?, ?, ?)",
                        [r[:3] for r in make_documents(seed, 400)])
        return [r[0] for r in con.execute(
            "SELECT html FROM (" + pages_select_sql("documents", "duckdb")
            + ") ORDER BY doc_id").fetchall()]
    finally:
        con.close()


def crawl_corpus(seed: int) -> list[str]:
    from perfbench.inputs import make_crawl

    crawl = make_crawl(seed, 24)
    return [c.body.decode("utf-8", "replace")
            for url, c in sorted(crawl.newest_ok().items())
            if crawl.truth[url].error is None]  # depth bombs left out


def check_identical(a, b) -> int:
    from test_parser_digest import digest_inputs, record

    inputs = digest_inputs()
    for name, html, context in inputs:
        if record(*a, html, context) != record(*b, html, context):
            print(f"DIFFERENT output on {name}: {html[:200]!r}")
            return 0
    return len(inputs)


def pass_s(api, extract, docs: list[str]) -> float:
    parse, extract_all = api.parse_document, extract.extract_all
    t0 = time.thread_time()
    for html in docs:
        extract_all(parse(html).doc)
    return time.thread_time() - t0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("rev_a")
    ap.add_argument("rev_b")
    ap.add_argument("--pairs", type=int, default=20)
    ap.add_argument("--seed", type=int, default=3)
    args = ap.parse_args()

    with tempfile.TemporaryDirectory(prefix="parser_ab_") as d:
        tmp = Path(d)
        sys.path.insert(0, str(tmp))
        a = load_parser(args.rev_a, tmp, "parser_a")
        b = load_parser(args.rev_b, tmp, "parser_b")
        n = check_identical(a, b)
        if not n:
            return 1
        print(f"identical output on {n} inputs")
        for corpus, docs in (("pages", pages_corpus(args.seed)),
                             ("crawl", crawl_corpus(args.seed))):
            pass_s(*a, docs)  # warm both sides
            pass_s(*b, docs)
            ta, tb = [], []
            for i in range(args.pairs):
                if i % 2:
                    tb.append(pass_s(*b, docs))
                    ta.append(pass_s(*a, docs))
                else:
                    ta.append(pass_s(*a, docs))
                    tb.append(pass_s(*b, docs))
            us = 1e6 / len(docs)
            for side, rev, ts in (("A", args.rev_a, ta), ("B", args.rev_b, tb)):
                q1, med, q3 = statistics.quantiles(ts, n=4)
                print(f"{corpus} {side} {rev}: median {med * us:.1f} us/doc "
                      f"[q1 {q1 * us:.1f}, q3 {q3 * us:.1f}] "
                      f"({len(docs)} docs, {args.pairs} pairs)")
            b_wins = sum(y < x for x, y in zip(ta, tb))
            a_wins = sum(x < y for x, y in zip(ta, tb))
            ratio = statistics.median(ta) / statistics.median(tb)
            print(f"{corpus}: A/B median ratio {ratio:.3f}, "
                  f"B won {b_wins} of {args.pairs} pairs, A won {a_wins}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
