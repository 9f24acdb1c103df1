#!/usr/bin/env python3
"""Net line delta of src/main against a git revision.

    python3 scripts/loc.py [<git-rev>]

Compares the working tree with <git-rev> (default HEAD). Prints one row
per changed file under src/main, one row for all of src/main and one for
src/main and src/test together: total lines and code lines (non-blank
lines whose first non-space characters are not `//`, `/*` or `*`),
before, after and the delta of each. Code moved from src/main into
src/test lowers the src/main row but not the combined one.

A last row counts the options of src/main: the parameters with a default
value on every `def` that carries no `private` or `private[...]`
modifier, before, after and the delta.
"""
import os
import re
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TREE = "src/main"
TEST_TREE = "src/test"


def git(*args):
    return subprocess.run(["git", "-C", ROOT, *args], check=True,
                          capture_output=True, text=True).stdout


def counts(text):
    lines = text.splitlines()
    code = sum(1 for l in lines
               if l.strip() and not l.lstrip().startswith(("//", "/*", "*")))
    return len(lines), code


def strip(text):
    """Scala source with comments removed and string literals emptied."""
    out, i, n = [], 0, len(text)
    while i < n:
        if text.startswith("//", i):
            i = text.find("\n", i)
            i = n if i < 0 else i
        elif text.startswith("/*", i):
            j = text.find("*/", i + 2)
            i = n if j < 0 else j + 2
        elif text.startswith('"""', i):
            j = text.find('"""', i + 3)
            out.append('""')
            i = n if j < 0 else j + 3
        elif text[i] == '"':
            j = i + 1
            while j < n and text[j] != '"' and text[j] != "\n":
                j += 2 if text[j] == "\\" else 1
            out.append('""')
            i = j + 1
        elif text.startswith("'\"'", i):
            out.append("' '")
            i += 3
        else:
            out.append(text[i])
            i += 1
    return "".join(out)


def split_top(body):
    """The top-level comma-separated parts of a parameter list."""
    parts, depth, cur = [], 0, []
    for c in body:
        if c in "([{":
            depth += 1
        elif c in ")]}":
            depth -= 1
        if c == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(c)
    parts.append("".join(cur))
    return parts


def balanced(text, i):
    """The index just past the bracket group opening at text[i]."""
    close = {"(": ")", "[": "]"}[text[i]]
    depth, j = 0, i
    while j < len(text):
        if text[j] == text[i]:
            depth += 1
        elif text[j] == close:
            depth -= 1
            if depth == 0:
                return j + 1
        j += 1
    return len(text)


DEF = re.compile(r"\bdef\s+[^\s(\[:=]+")
DEFAULT = re.compile(r"(?<![=<>!])=(?![=>])")


def options(text):
    """Defaulted parameters on the non-private defs of one source file."""
    text, total = strip(text), 0
    for m in DEF.finditer(text):
        line = text[text.rfind("\n", 0, m.start()) + 1:m.start()]
        if re.search(r"\bprivate\b", line):
            continue
        i = m.end()
        while True:
            while i < len(text) and text[i] in " \t\n":
                i += 1
            if i >= len(text) or text[i] not in "([":
                break
            end = balanced(text, i)
            if text[i] == "(":
                total += sum(1 for p in split_top(text[i + 1:end - 1])
                             if DEFAULT.search(p))
            i = end
    return total


def option_counts(rev, tree):
    """(options at rev, options in the working tree) under tree."""
    before = sum(options(git("show", f"{rev}:{f}"))
                 for f in old_files(rev, tree) if f.endswith(".scala"))
    after = 0
    for f in new_files(tree):
        if f.endswith(".scala"):
            with open(os.path.join(ROOT, f), encoding="utf-8") as fh:
                after += options(fh.read())
    return before, after


def old_files(rev, tree):
    return set(git("ls-tree", "-r", "--name-only", rev, "--", tree).split())


def new_files(tree):
    out = git("ls-files", "--cached", "--others", "--exclude-standard", "--", tree)
    return {f for f in out.split() if os.path.isfile(os.path.join(ROOT, f))}


def tally(rev, tree):
    """(changed rows, [old total, old code, new total, new code]) of tree."""
    before, after = old_files(rev, tree), new_files(tree)
    rows, total = [], [0, 0, 0, 0]
    for f in sorted(before | after):
        old_text = git("show", f"{rev}:{f}") if f in before else ""
        new_text = ""
        if f in after:
            with open(os.path.join(ROOT, f), encoding="utf-8") as fh:
                new_text = fh.read()
        old, new = counts(old_text), counts(new_text)
        for i, v in enumerate(old + new):
            total[i] += v
        if old_text != new_text:
            rows.append((f, *old, *new))
    return rows, total


def row(name, ot, oc, nt, nc):
    print(f"{name:<60} {ot:>5} → {nt:>5} {nt - ot:>+5} "
          f"{oc:>5} → {nc:>5} {nc - oc:>+5}")


def main():
    rev = sys.argv[1] if len(sys.argv) > 1 else "HEAD"
    rows, main_total = tally(rev, TREE)
    _, test_total = tally(rev, TEST_TREE)
    print(f"{'file':<60} {'total':>17} {'code':>17}")
    for r in rows:
        row(*r)
    row(TREE + " (all files)", *main_total)
    row(f"{TREE} + {TEST_TREE} (all files)",
        *(m + t for m, t in zip(main_total, test_total)))
    ob, oa = option_counts(rev, TREE)
    print(f"{TREE + ' options (defaulted public def params)':<60} "
          f"{ob:>5} → {oa:>5} {oa - ob:>+5}")


if __name__ == "__main__":
    main()
