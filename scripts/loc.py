#!/usr/bin/env python3
"""Net line delta of src/main against a git revision.

    python3 scripts/loc.py [<git-rev>]

Compares the working tree with <git-rev> (default HEAD). Prints one row
per changed file under src/main and one row for all of src/main: total
lines and code lines (non-blank lines whose first non-space characters
are not `//`, `/*` or `*`), before, after and the delta of each.
"""
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TREE = "src/main"


def git(*args):
    return subprocess.run(["git", "-C", ROOT, *args], check=True,
                          capture_output=True, text=True).stdout


def counts(text):
    lines = text.splitlines()
    code = sum(1 for l in lines
               if l.strip() and not l.lstrip().startswith(("//", "/*", "*")))
    return len(lines), code


def old_files(rev):
    return set(git("ls-tree", "-r", "--name-only", rev, "--", TREE).split())


def new_files():
    out = git("ls-files", "--cached", "--others", "--exclude-standard", "--", TREE)
    return {f for f in out.split() if os.path.isfile(os.path.join(ROOT, f))}


def main():
    rev = sys.argv[1] if len(sys.argv) > 1 else "HEAD"
    before, after = old_files(rev), new_files()
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
    print(f"{'file':<60} {'total':>17} {'code':>17}")
    for f, ot, oc, nt, nc in rows:
        print(f"{f:<60} {ot:>5} → {nt:>5} {nt - ot:>+5} "
              f"{oc:>5} → {nc:>5} {nc - oc:>+5}")
    ot, oc, nt, nc = total
    print(f"{TREE + ' (all files)':<60} {ot:>5} → {nt:>5} {nt - ot:>+5} "
          f"{oc:>5} → {nc:>5} {nc - oc:>+5}")


if __name__ == "__main__":
    main()
