"""Document text is whitespace-tokenized in one place.

``functions/text.py`` owns the Spark-side ``split(text, ' ')``: its
``words()`` is the Column form and ``words_sql()`` the generated-SQL
form.  A second copy elsewhere in the package would be free to drift
from the one NULL/empty-text contract (see that module).  DuckDB's
``string_split`` in the oracles is a different engine's tokenizer and
is not matched.  Spark-free.
"""

from __future__ import annotations

import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "go_mapreduce_crawler_spark")
OWNER = os.path.join(PKG, "functions", "text.py")

# F.split whose first argument names the text column, and a generated
# split(text, ' ') not preceded by an identifier character (so not
# DuckDB's string_split)
_SITES = re.compile(r"""F\.split\([^,]*?["']text["']"""
                    r"""|(?<![\w.])split\(\s*text\s*,\s*' '\s*\)""")


def tokenizer_sites(text: str) -> list[str]:
    return [m.group(0) for m in _SITES.finditer(text)]


def test_tokenizer_sites_parse():
    text = ('w = F.split("text", " "); x = F.split(F.col("text"), " ")\n'
            'y = F.split(F.lower("text"), " "); f"size(split(text, \' \'))"\n'
            'string_split(text, \' \'); F.split(F.col("p_name"), " ")\n'
            'F.split(F.trim(F.col("s")), "  "); words("text")')
    assert len(tokenizer_sites(text)) == 4


def test_text_is_split_only_by_the_tokenizer():
    found = []
    for root, dirs, files in os.walk(PKG):
        dirs[:] = [d for d in dirs if d != "__pycache__"]
        for name in sorted(files):
            path = os.path.join(root, name)
            if not name.endswith(".py") or path == OWNER:
                continue
            with open(path, encoding="utf-8") as f:
                for i, line in enumerate(f, 1):
                    for site in tokenizer_sites(line):
                        found.append(f"{os.path.relpath(path, REPO)}:{i}:"
                                     f" {site}")
    assert not found, ("tokenize document text with functions.text.words"
                       " / words_sql:\n" + "\n".join(found))
