"""Source citations in ``rsyslog_spark/`` are relative paths.

Spark-free. A docstring or comment cites upstream rsyslog by its path in
the rsyslog tree (``runtime/parser.c:543-605``) and this repository by
a repo-relative path (``SURVEY.md §3.3``). An absolute prefix in front
of either names one machine's checkout, which no other reader has.
"""

from __future__ import annotations

import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "rsyslog_spark"
# top-level directories of the rsyslog source tree that the package cites
UPSTREAM_DIRS = ("contrib", "grammar", "plugins", "runtime", "tools")


def _absolute_citation() -> re.Pattern:
    names = {*UPSTREAM_DIRS}
    names |= {p.name for p in ROOT.iterdir() if not p.name.startswith(".")}
    alt = "|".join(re.escape(n) for n in sorted(names, key=len, reverse=True))
    # one or more leading components, then an upstream dir or repo entry
    return re.compile(rf"(?<![\w.:/])(?:/[\w.-]+)+?/(?:{alt})(?![\w.-])")


def test_no_absolute_path_citations():
    pat = _absolute_citation()
    hits = [
        f"{path.relative_to(ROOT)}:{n} {line.strip()}"
        for path in sorted(PKG.rglob("*.py"))
        for n, line in enumerate(
            path.read_text(encoding="utf-8").splitlines(), 1
        )
        if pat.search(line)
    ]
    assert not hits, "absolute-path citations:\n" + "\n".join(hits)
