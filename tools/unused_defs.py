#!/usr/bin/env python3
"""Lists the defs in src/main that nothing else names: candidates for deletion.

Usage (from the repository root):
    python3 tools/unused_defs.py

A def is listed when its name, matched as a whole word, occurs in the sources
under src/ and xmlbench/src only on the lines that define it. Overrides,
`main` entry points and `apply`/`unapply` (called implicitly) are skipped.
Word matching also counts comments, strings and same-named defs elsewhere, so
a def that only a scaladoc mentions is not listed. Public API that callers
outside the repository use will be listed too; judge each line before
deleting. The script deletes nothing and always exits 0.
"""
import re
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
DEF = re.compile(r"^\s*(?:(?:private|protected)(?:\[\w+\])?\s+|final\s+|implicit\s+|inline\s+)*"
                 r"def\s+([A-Za-z_]\w*)")
WORD = re.compile(r"\b[A-Za-z_]\w*\b")
SKIP = {"main", "apply", "unapply"}


def main():
    words, def_lines, candidates = Counter(), Counter(), []
    for top in (ROOT / "src", ROOT / "xmlbench" / "src"):
        for path in sorted(top.rglob("*")):
            if path.suffix not in (".scala", ".java"):
                continue
            rel = path.relative_to(ROOT).as_posix()
            for no, line in enumerate(path.read_text(encoding="utf-8", errors="replace").splitlines(), 1):
                line_words = WORD.findall(line)
                words.update(line_words)
                m = DEF.match(line)
                if m:
                    name = m.group(1)
                    def_lines[name] += line_words.count(name)
                    if rel.startswith("src/main/") and name not in SKIP:
                        candidates.append((rel, no, name))
    for rel, no, name in candidates:
        if words[name] == def_lines[name]:
            print(f"{rel}:{no}: {name}")


if __name__ == "__main__":
    main()
