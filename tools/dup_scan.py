"""Count duplicated code windows per file of the package.

    python tools/dup_scan.py [path ...]

A *window* is 8 consecutive lines of a ``.py`` file after each line is
stripped of surrounding whitespace and blank lines and ``#`` comment
lines are dropped. Its text is those 8 lines joined with ``\\n``; only
windows of at least 200 characters (newlines included) count, so short
runs of brackets and ``return`` lines do not. A window is *duplicated*
when the same text occurs at two or more positions anywhere in the
scanned files (the same file included).

For every file that holds a duplicated window the scan prints the
number of distinct duplicated window texts that occur in it, then the
total over all files. Overlapping windows of one long copied block each
count, so the figure grows with the length of a copy as well as with
the number of copies. The default path is ``html5ever_elixir_spark/``.
Run it from the repository root.
"""

from __future__ import annotations

import sys
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WINDOW = 8
MIN_CHARS = 200


def windows(path: Path) -> list[str]:
    """The window texts of one file, one per position."""
    lines = [s for s in (ln.strip() for ln in path.read_text().splitlines())
             if s and not s.startswith("#")]
    texts = ("\n".join(lines[i : i + WINDOW])
             for i in range(len(lines) - WINDOW + 1))
    return [t for t in texts if len(t) >= MIN_CHARS]


def scan(paths: list[Path]) -> dict[str, int]:
    """``{file: distinct duplicated windows in it}`` for files with any."""
    files = sorted({f for p in paths
                    for f in ([p] if p.is_file() else p.rglob("*.py"))})
    counts: Counter = Counter()
    per_file: dict[Path, list[str]] = {}
    for f in files:
        per_file[f] = windows(f)
        counts.update(per_file[f])
    out = {}
    for f, texts in per_file.items():
        n = len({t for t in texts if counts[t] > 1})
        if n:
            out[str(f.relative_to(ROOT) if f.is_relative_to(ROOT) else f)] = n
    return out


def main(argv: list[str]) -> int:
    paths = [Path(a).resolve() for a in argv] or [
        ROOT / "html5ever_elixir_spark"]
    found = scan(paths)
    for name, n in sorted(found.items()):
        print(f"{n:4d}  {name}")
    print(f"{sum(found.values()):4d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
