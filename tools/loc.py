#!/usr/bin/env python3
"""Line counts of the library's main sources: total lines, code lines
(non-blank, outside // line comments and /* */ block comments, scaladoc
included) and public defs (`def` declarations of top-level objects' and
classes' members without a private/protected modifier; local defs, indented
deeper, do not count), per file and summed. With --against REV, each count
is printed next to its delta from the same files at that git revision
(files added or deleted since count against zero).

Usage:
  python3 tools/loc.py                  # counts of the working tree
  python3 tools/loc.py --against HEAD~1 # counts plus deltas vs a revision
  python3 tools/loc.py --totals         # only the summed line
"""
import argparse
import os
import re
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SRC = "src/main"
EXTS = (".scala", ".java")
# a member def: two-space indent, then modifiers (possibly qualified, like
# private[graft]), then `def`
MEMBER_DEF = re.compile(r"^  ((?:[a-z]+(?:\[[\w.]+\])?\s+)*)def\s")


def count(text):
    """(total lines, code lines, public defs) of one source text."""
    total = code = defs = 0
    in_block = False
    for raw in text.splitlines():
        total += 1
        line = raw.strip()
        if in_block:
            if "*/" in line:
                in_block = False
                if line.split("*/", 1)[1].strip():
                    code += 1
            continue
        if not line or line.startswith("//"):
            continue
        if line.startswith("/*"):
            in_block = "*/" not in line[2:]
            continue
        code += 1
        m = MEMBER_DEF.match(raw)
        if m and not re.search(r"\b(private|protected)\b", m.group(1)):
            defs += 1
    return total, code, defs


def worktree():
    out = {}
    for d, _, files in os.walk(os.path.join(ROOT, SRC)):
        for f in files:
            if f.endswith(EXTS):
                p = os.path.join(d, f)
                with open(p, encoding="utf-8") as fh:
                    out[os.path.relpath(p, ROOT)] = count(fh.read())
    return out


def at_rev(rev):
    git = ["git", "-C", ROOT]
    names = subprocess.run(git + ["ls-tree", "-r", "--name-only", rev, SRC],
                           check=True, capture_output=True, text=True).stdout
    out = {}
    for p in names.split():
        if p.endswith(EXTS):
            txt = subprocess.run(git + ["show", f"{rev}:{p}"], check=True,
                                 capture_output=True, text=True).stdout
            out[p] = count(txt)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--against", metavar="REV",
                    help="also print deltas vs this git revision")
    ap.add_argument("--totals", action="store_true",
                    help="print only the summed line")
    a = ap.parse_args()
    now = worktree()
    base = at_rev(a.against) if a.against else None
    paths = sorted(set(now) | set(base or {}))
    rows = []
    cols = (0, 1, 2)
    for p in paths + ["TOTAL"]:
        if p == "TOTAL":
            cur = tuple(sum(v[i] for v in now.values()) for i in cols)
            old = (tuple(sum(v[i] for v in base.values()) for i in cols)
                   if base is not None else None)
        else:
            cur = now.get(p, (0, 0, 0))
            old = base.get(p, (0, 0, 0)) if base is not None else None
            if old is not None and cur == old:
                continue
        row = [p] + [str(c) for c in cur]
        if old is not None:
            row += [f"{c - o:+d}" for c, o in zip(cur, old)]
        rows.append(row)
    if a.totals:
        rows = rows[-1:]
    head = (["file", "lines", "code", "pub_defs"] +
            (["d_lines", "d_code", "d_pub_defs"] if base else []))
    widths = [max(len(r[i]) for r in rows + [head]) for i in range(len(head))]
    for r in [head] + rows:
        print("  ".join(c.ljust(widths[0]) if i == 0 else c.rjust(widths[i])
                        for i, c in enumerate(r)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
