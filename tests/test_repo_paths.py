"""Every repo path the docs and code cite must still exist.

The one-round probe scripts and explain captures were deleted from
``tools/`` and ``plans/``; git history keeps them.  A citation of a
removed file is pinned to a commit as ``<path>@<sha>`` (print it with
``git show <sha>:<path>``).  A bare citation is a promise that the file
is in the tree, and this test keeps that promise.  Spark-free.

History records (CHANGES.md, ROADMAP.md, VERDICT.md, OPTIMIZATION_r*.md)
describe past trees and are not checked.
"""

from __future__ import annotations

import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHECKED_FILES = ("README.md", "SURVEY.md", "SCALE.md", "bench.py",
                 "__spark_entry__.py")
CHECKED_DIRS = (".claude", "tests", "tools", "go_mapreduce_crawler_spark")
TEXT_SUFFIXES = (".py", ".md", ".sh")

# A bare path starts at a token boundary: not inside another path
# (``pkg/plans/``), not after ``:`` (``git show <sha>:<path>``).
_PATH = re.compile(
    r"(?<![\w/.:-])(tools/[\w./{}*<>-]*|plans/r[\w./{}*<>-]+)(@?)")
_TEMPLATE = set("{*<")


def _checked_paths():
    for name in CHECKED_FILES:
        yield os.path.join(REPO, name)
    for top in CHECKED_DIRS:
        for root, dirs, files in os.walk(os.path.join(REPO, top)):
            dirs[:] = [d for d in dirs if d != "__pycache__"]
            for name in sorted(files):
                if name.endswith(TEXT_SUFFIXES):
                    yield os.path.join(root, name)


def bare_citations(text: str) -> list[str]:
    """The bare, concrete ``tools/`` and ``plans/r`` paths in ``text``:
    ``@<sha>``-pinned paths and templates are left out."""
    out = []
    for m in _PATH.finditer(text):
        path, pinned = m.group(1).rstrip(".-"), m.group(2)
        if pinned or _TEMPLATE & set(path):
            continue
        out.append(path)
    return out


def test_bare_citations_parse():
    text = ("run `tools/sf_sweep.py`, see plans/r11/x.txt@abc1234, "
            "log tools/sweep_{tag}.json, git show abc:tools/b.py, "
            "pkg/plans/ and pkg/tools/c.py. Then tools/round_check.sh.")
    assert bare_citations(text) == ["tools/sf_sweep.py",
                                     "tools/round_check.sh"]


def test_every_bare_tools_and_plans_path_exists():
    dangling = []
    for path in _checked_paths():
        with open(path, encoding="utf-8", errors="replace") as fh:
            text = fh.read()
        for cited in bare_citations(text):
            if not os.path.exists(os.path.join(REPO, cited)):
                dangling.append(f"{os.path.relpath(path, REPO)}: {cited}")
    assert not dangling, "\n".join(dangling)
