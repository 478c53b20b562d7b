"""Frozen md5 of every ``__spark_entry__.oracle_sql()`` text.

The DuckDB oracles define what every entry query must return, so a
refactor of the code that builds them must not change one byte of
their text. This test compares each query's oracle text with the md5
frozen in ``tests/fixtures/oracle_sql_md5.json``. Building the texts
needs no Spark.

After a deliberate oracle change, refreeze the fixture with
``python tests/test_oracle_text_frozen.py``.
"""

from __future__ import annotations

import hashlib
import json
import sys
from pathlib import Path

_TESTS = Path(__file__).resolve().parent
sys.path.insert(0, str(_TESTS.parent))

FIXTURE = _TESTS / "fixtures" / "oracle_sql_md5.json"


def digests() -> dict[str, str]:
    import __spark_entry__

    texts = __spark_entry__.oracle_sql()
    return {k: hashlib.md5(texts[k].encode()).hexdigest() for k in texts}


def test_oracle_sql_text_is_frozen():
    got = digests()
    frozen = json.loads(FIXTURE.read_text())
    assert sorted(got) == sorted(frozen)
    assert {k for k in got if got[k] != frozen[k]} == set()


if __name__ == "__main__":
    FIXTURE.write_text(json.dumps(digests(), indent=1, sort_keys=True) + "\n")
