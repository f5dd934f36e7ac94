#!/usr/bin/env python3
"""Count main-source code lines: every src/main/scala/**/*.scala file,
excluding blank lines, `//` line comments and `/* ... */` blocks (scaladoc
included). A line that closes a block comment counts only if code follows
the `*/`.

Usage: python3 scripts/code_lines.py [REPO_ROOT]
Prints one `count path` line per main file, then `total N`, then
`test_total N`: the same count over src/test/scala, so lines moved from
main into tests show up on both sides.
"""
import pathlib
import sys


def code_lines(text):
    n = 0
    in_block = False
    for line in text.splitlines():
        s = line.strip()
        if in_block:
            end = s.find("*/")
            if end < 0:
                continue
            in_block = False
            s = s[end + 2:].strip()
        if not s or s.startswith("//"):
            continue
        if s.startswith("/*"):
            end = s.find("*/", 2)
            if end < 0:
                in_block = True
                continue
            s = s[end + 2:].strip()
            if not s or s.startswith("//"):
                continue
        n += 1
    return n


def main():
    root = pathlib.Path(sys.argv[1] if len(sys.argv) > 1 else ".")
    files = sorted((root / "src" / "main" / "scala").rglob("*.scala"))
    total = 0
    for f in files:
        n = code_lines(f.read_text(encoding="utf-8"))
        total += n
        print(f"{n:6d} {f.relative_to(root)}")
    print(f"total {total}")
    tests = (root / "src" / "test" / "scala").rglob("*.scala")
    print(f"test_total {sum(code_lines(f.read_text(encoding='utf-8')) for f in tests)}")


if __name__ == "__main__":
    main()
