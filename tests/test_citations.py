"""Citations of repo tools must resolve: a script named in the code or in a
current-state document either exists, or is cited in ``git show <sha>:``
form so a reader can still recover it. History documents (CHANGES.md,
ROADMAP.md, VERDICT.md, ADVICE.md, OPTIMIZATION_r*.md) record what was
true when they were written and are not checked. Needs no Spark."""

from __future__ import annotations

import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DOCS = ("README.md", "COVERAGE.md", "BASELINE.md", "SURVEY.md",
        os.path.join(".claude", "skills", "verify", "SKILL.md"))

TOOL = re.compile(r"\btools/(\w+)\.py")
GIT_SHOW = re.compile(r"git show [0-9a-f]{7,40}\^?:tools/\w+\.py")


def _cited_files() -> list[str]:
    paths = [os.path.join(ROOT, d) for d in DOCS]
    for dirpath, dirnames, filenames in os.walk(ROOT):
        dirnames[:] = [d for d in dirnames
                       if not d.startswith(".") and d != "__pycache__"]
        paths += [os.path.join(dirpath, f) for f in filenames if f.endswith(".py")]
    return [p for p in paths if os.path.isfile(p)]


def test_every_cited_tool_exists_or_is_cited_from_history():
    dangling = []
    for path in _cited_files():
        with open(path, encoding="utf-8") as fh:
            text = GIT_SHOW.sub("", fh.read())
        for m in TOOL.finditer(text):
            if not os.path.isfile(os.path.join(ROOT, "tools", m.group(1) + ".py")):
                line = text.count("\n", 0, m.start()) + 1
                dangling.append(f"{os.path.relpath(path, ROOT)}:{line}: {m.group(0)}")
    assert not dangling, "\n".join(sorted(set(dangling)))
