#!/usr/bin/env python3
"""Count the non-blank, non-comment lines of the Scala sources under a tree.

Usage: python3 tools/loc.py [ROOT]   (ROOT defaults to src/main)

A line counts unless it is blank once block comments (/* ... */, scaladoc
included) are blanked out, or it starts with `//` after indentation. Block
comments are removed per file, keeping their line breaks, so a line that
carries code before or after a comment still counts.
"""
import pathlib
import re
import sys

BLOCK = re.compile(r"/\*.*?\*/", re.S)


def count(text: str) -> int:
    text = BLOCK.sub(lambda m: "\n" * m.group(0).count("\n"), text)
    return sum(1 for line in text.splitlines()
               if line.strip() and not line.strip().startswith("//"))


def main() -> None:
    root = pathlib.Path(sys.argv[1] if len(sys.argv) > 1 else "src/main")
    files = sorted(root.rglob("*.scala"))
    if not files:
        sys.exit(f"no .scala files under {root}")
    print(sum(count(f.read_text(encoding="utf-8")) for f in files))


if __name__ == "__main__":
    main()
