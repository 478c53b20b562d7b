"""Frozen digest of the parser's whole output on a fixed input set.

The parser's fast paths (the tokenizer's one-match tag scan, the tree
builder's direct in-body dispatch, inline node creation, the one-pop end
tags, the trivial adoption-agency case) are exact early exits from the
spec path they skip. This test pins that. For every input below it
hashes

* the canonical tree (``tree_to_json`` / ``fragment_to_json``),
* the node ids in document order, template contents included,
* the parse-error total (tree builder + tokenizer), which is the
  operators' ``n_parse_errors`` column, and
* ``extract_all(doc)`` for whole documents,

and compares one digest per input set with a constant frozen before the
fast paths existed. The html5lib differential ignores error counts, so
this is the test that pins them.

Inputs: every ``#data`` block of ``tests/tree_construction/*.dat`` (as a
document, and through the fragment algorithm when it names a context),
``tests/fixtures/*.html``, the ``sources.pages`` case catalog, seeded
pages built from the ``_HTML_EXPR`` template by DuckDB, and seeded tag
soup aimed at the edges of the fast paths (case, quoting, ``&`` in
values, duplicate and valueless attributes, self-closing and misnested
tags, tables, foreign content).

After a deliberate output change, print the new digests with
``python tests/test_parser_digest.py`` and refreeze ``FROZEN``.
``tools/parser_ab.py`` compares two revisions on the same inputs.
"""

from __future__ import annotations

import hashlib
import json
import random
import sys
import time
from pathlib import Path

_TESTS = Path(__file__).resolve().parent
sys.path.insert(0, str(_TESTS.parent))
sys.path.insert(0, str(_TESTS))

from treeconstruction_harness import parse_dat  # noqa: E402

# per input set: (number of records hashed, sha256)
FROZEN = {
    "cases": (
        14, "c20e1a15842c0f2bd7a19c26595eaff427523c5599bc684debe62b712a92e36d"),
    "fixtures": (
        2, "7d3a5e18b93431d5caacd611c6c20a9f3fde24b7c80c37afddaafe723841ec70"),
    "soup": (
        1500, "2dd7be9002721c2570740e8280e82edbf568bceaa26fafc20c7b86208f720058"),
    "template_pages": (
        400, "5cd75c28409e07e9855931017f295c48ab3d4931c6fb5ab4c3906c1d20314cc1"),
    "tree_construction": (
        522, "b9502165b1fc5a205dae961eb071186cda3bf1ab177669e6ed308019ecfc385f"),
    "tree_construction_fragments": (
        25, "7fa917011eaae199030b1a8f24fd74b565f2b9aa583ae3fb1a7989545dcf727a"),
}


def template_pages(n: int = 400, seed: int = 3) -> list[str]:
    """Pages from the shared ``_HTML_EXPR`` template, built by DuckDB
    over seeded ``documents`` rows. Most texts are plain words, as in
    the sf0.1 fixture; every fifth carries markup and references, since
    the template inserts the text unescaped."""
    import duckdb

    from html5ever_elixir_spark.sources.pages import pages_select_sql

    rng = random.Random(f"digest-pages:{seed}")
    plain = ("spark parse token tree node page crawl text the and of "
             "der die la le café 東京").split()
    marked = ["&amp;", "a&b", "&copy", "&#x41;", "<b>bold", "</b>", "<i>",
              "x<y", "<br>", "</p>", "<p>", '<a href="u">', "</a>",
              "<span class=q>", "</div>", "<!-- c -->", "<td>", "\x00"]
    rows = []
    for d in range(n):
        words = [rng.choice(plain) for _ in range(rng.randint(8, 60))]
        if d % 5 == 0:
            for _ in range(rng.randint(1, 6)):
                words.insert(rng.randrange(len(words)), rng.choice(marked))
        rows.append((d, " ".join(words), "en"))
    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR, "
                    "lang VARCHAR)")
        con.executemany("INSERT INTO documents VALUES (?, ?, ?)", rows)
        return [r[0] for r in con.execute(
            "SELECT html FROM (" + pages_select_sql("documents", "duckdb")
            + ") ORDER BY doc_id"
        ).fetchall()]
    finally:
        con.close()


_SOUP_NAMES = ("div p a b i span li ul td tr table h1 h2 em strong pre "
               "button dd dt section nav img br input svg math title "
               "script style textarea template select option font nobr "
               "form listing code small u s").split()
_SOUP_ATTRS = "class id href data-x x_y title src".split()


def _soup_tag(rng: random.Random) -> str:
    name = rng.choice(_SOUP_NAMES)
    if rng.random() < 0.08:
        name = name.upper() if rng.random() < 0.5 else name.title()
    end = rng.random() < 0.4
    parts = []
    for _ in range(rng.choice((0, 0, 1, 1, 2, 3))):
        attr = rng.choice(_SOUP_ATTRS)
        if rng.random() < 0.05:
            attr = attr.upper()
        v = rng.choice(("v", "", "a b", "x&y", "&amp;", "&lt", "q'q", "1"))
        form = rng.random()
        if form < 0.7:
            parts.append(f'{attr}="{v}"')
        elif form < 0.8:
            parts.append(f"{attr}='{v}'")
        elif form < 0.9:
            parts.append(f"{attr}={v.replace(' ', '') or 'u'}")
        else:
            parts.append(attr)
    if parts and rng.random() < 0.15:
        parts.append(parts[0])  # duplicate attribute: first wins
    sep = rng.choice((" ", " ", " ", "  ", "\n", "\t"))
    body = name + "".join(sep + a for a in parts)
    close = rng.choice((">",) * 12 + ("/>", " />", " >"))
    return f"</{body}{close}" if end else f"<{body}{close}"


def soup_docs(n: int = 1500, seed: int = 11) -> list[str]:
    """Seeded tag soup at the edges of the fast paths."""
    rng = random.Random(f"digest-soup:{seed}")
    texts = ("x", " ", "text ", "&amp;", "&", "a<b", "<", "</", "<!-- k -->",
             "<!DOCTYPE html>", "\n", "<?pi?>", "<![CDATA[c]]>", "&notin")
    docs = []
    for _ in range(n):
        out = []
        for _ in range(rng.randint(1, 30)):
            if rng.random() < 0.7:
                out.append(_soup_tag(rng))
            else:
                out.append(rng.choice(texts))
        docs.append("".join(out))
    return docs


def digest_inputs() -> list[tuple[str, str, str | None]]:
    """``(set name, html, fragment context or None)`` for every input."""
    from html5ever_elixir_spark.sources.pages import _CASES

    out = []
    for dat in sorted((_TESTS / "tree_construction").glob("*.dat")):
        for case in parse_dat(dat.read_text(encoding="utf-8")):
            out.append(("tree_construction", case["data"], None))
            if case["fragment"] is not None:
                out.append(("tree_construction_fragments", case["data"],
                            case["fragment"]))
    for page in sorted((_TESTS / "fixtures").glob("*.html")):
        out.append(("fixtures", page.read_text(encoding="utf-8"), None))
    out.extend(("cases", html, None) for _, html in _CASES)
    out.extend(("template_pages", html, None) for html in template_pages())
    out.extend(("soup", html, None) for html in soup_docs())
    return out


def _ids(root) -> str:
    """Node ids and names in document order, template contents first."""
    out = []
    stack = [root]
    while stack:
        node = stack.pop()
        out.append(f"{node.id}:{node.name or node.type}")
        stack.extend(reversed(node.children))
        if node.template_contents is not None:
            stack.append(node.template_contents)
    return " ".join(out)


def record(api, extract, html: str, context: str | None) -> str:
    """The hashed output of one input, for the parser modules ``api``
    and ``extract`` (passed in so a tool can compare two revisions)."""
    if context is None:
        b = api.parse_document(html)
        tree = api.tree_to_json(b.doc)
        root = b.doc
        ext = json.dumps(extract.extract_all(b.doc), sort_keys=True,
                         ensure_ascii=False)
    else:
        b = api.parse_fragment(html, context)
        tree = api.fragment_to_json(b)
        root = b.fragment_root
        ext = ""
    errors = b.parse_errors + b.tokenizer.parse_errors
    return "\x1f".join((tree, _ids(root), str(errors), ext))


def digests(api, extract) -> dict[str, tuple]:
    """``{set name: (record count, sha256)}`` over ``digest_inputs()``."""
    hashes: dict[str, list] = {}
    for name, html, context in digest_inputs():
        h = hashes.setdefault(name, [hashlib.sha256(), 0])
        h[0].update(record(api, extract, html, context).encode(
            "utf-8", "surrogatepass"))
        h[0].update(b"\x1e")
        h[1] += 1
    return {k: (n, h.hexdigest()) for k, (h, n) in sorted(hashes.items())}


def test_parser_output_digest_is_frozen():
    from html5ever_elixir_spark.parser import api, extract

    assert digests(api, extract) == FROZEN


# -- comment scanning ---------------------------------------------------------

# 50k "a-" dash runs in one comment: before the scan used a find cache,
# every run searched for a NUL to the end of the document
_DASH_COMMENT = "<!--" + "a-" * 50_000 + "-->"
# sha256 of record() on _DASH_COMMENT + "x" * 1_000_000, frozen
_DASH_COMMENT_DIGEST = (
    "24983ceaf30374e3aa94ff19daffb292c54b8b6c113fcfe3027e82cc8cd9a985"
)


def test_comment_dash_runs_scan_linearly():
    from html5ever_elixir_spark.parser import api, extract

    def best_parse_s(doc: str) -> float:
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            api.parse_document(doc)
            best = min(best, time.perf_counter() - t0)
        return best

    big = _DASH_COMMENT + "x" * 1_000_000
    got = record(api, extract, big, None)
    assert hashlib.sha256(got.encode("utf-8")).hexdigest() == _DASH_COMMENT_DIGEST
    # a 1 MB text tail must cost about what a 1 KB one does (it was ~10x)
    small_s = best_parse_s(_DASH_COMMENT + "x" * 1_000)
    big_s = best_parse_s(big)
    assert big_s < 2 * small_s + 0.05, (big_s, small_s)


if __name__ == "__main__":
    from html5ever_elixir_spark.parser import api, extract

    print(json.dumps(digests(api, extract), indent=1))
    big = _DASH_COMMENT + "x" * 1_000_000
    print(hashlib.sha256(record(api, extract, big, None).encode("utf-8"))
          .hexdigest())
