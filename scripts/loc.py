#!/usr/bin/env python3
"""Net line delta of src/main against a git revision.

    python3 scripts/loc.py [<git-rev>]

Compares the working tree with <git-rev> (default HEAD). Prints one row
per changed file under src/main, one row for all of src/main and one for
src/main and src/test together: total lines and code lines (non-blank
lines whose first non-space characters are not `//`, `/*` or `*`),
before, after and the delta of each. Code moved from src/main into
src/test lowers the src/main row but not the combined one.
"""
import os
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


if __name__ == "__main__":
    main()
