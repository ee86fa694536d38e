#!/usr/bin/env python3
"""Plan-parity check between two PLANS.md files written by `graft.PlanDump`.

Usage:
    python3 tools/plan_diff.py A.md B.md

Splits both files into their per-query sections (`## <query> ...`) and
compares each section line by line after masking what changes from run
to run of the same tree:

- expression ids (`#123`, `#123L`, `[id=#123]`),
- plan ids (`plan_id=123`) and RDD ids (`MapPartitionsRDD[123]`),
- lambda class names (`$$Lambda$123/0x00007f...`),
- identity hash codes (`TopKAggregator@1b6d1168`),
- source line numbers of call sites (`localCheckpoint at Cut.scala:42`),
- line-cut widths: a line Spark cut at a fixed width ends in
  `… [truncated N chars]`, and how much of it survives depends on the
  digits of the ids before the cut, so two cut lines match when one's
  kept text is a prefix of the other's.

Prints every query section that still differs, with its first differing
line on each side, and exits 1 if there is one (or a section exists on
one side only); exits 0 when every section matches.
"""
import re
import sys

MASKS = [
    (re.compile(r"\$\$Lambda[\w$/]*"), "$$Lambda"),
    (re.compile(r"(?<=[\w$\]])@[0-9a-f]{1,8}\b"), "@H"),
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"\bplan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"\b(at \S+\.scala):\d+"), r"\1:N"),
]
TRUNCATED = re.compile(r"\s*(?:…|\.\.\.)?\s*\[truncated \d+ chars\]\s*$")


def mask(line):
    for pattern, repl in MASKS:
        line = pattern.sub(repl, line)
    return line


def sections(path):
    """-> {query name: [masked lines]} in file order; text before the
    first `## ` heading is the preamble and is not compared."""
    out, name = {}, None
    with open(path, encoding="utf-8") as fh:
        for raw in fh:
            line = raw.rstrip("\n")
            if line.startswith("## "):
                name = line[3:].split()[0]
                out[name] = []
            elif name is not None:
                out[name].append(mask(line))
    return out


def same_line(a, b):
    if a == b:
        return True
    ta, tb = TRUNCATED.search(a), TRUNCATED.search(b)
    if ta and tb:
        ka, kb = a[:ta.start()], b[:tb.start()]
        return ka.startswith(kb) or kb.startswith(ka)
    return False


def first_difference(a, b):
    """-> None, or (1-based line, line in a, line in b) of the first
    difference; a missing line reads as '<end of section>'."""
    for i in range(max(len(a), len(b))):
        la = a[i] if i < len(a) else "<end of section>"
        lb = b[i] if i < len(b) else "<end of section>"
        if not same_line(la, lb):
            return i + 1, la, lb
    return None


def main():
    if len(sys.argv) != 3:
        print("usage: python3 tools/plan_diff.py A.md B.md", file=sys.stderr)
        sys.exit(2)
    path_a, path_b = sys.argv[1], sys.argv[2]
    a, b = sections(path_a), sections(path_b)
    names = sorted(a.keys() | b.keys())
    differing = 0
    for name in names:
        if name not in a or name not in b:
            print(f"{name}: only in {path_a if name in a else path_b}")
            differing += 1
            continue
        diff = first_difference(a[name], b[name])
        if diff:
            line, la, lb = diff
            at = next((i for i, (x, y) in enumerate(zip(la, lb)) if x != y),
                      min(len(la), len(lb)))
            lo = max(0, at - 60)
            print(f"{name}: differs at section line {line}, column {at + 1}")
            print(f"  A: {'…' if lo else ''}{la[lo:at + 140]}")
            print(f"  B: {'…' if lo else ''}{lb[lo:at + 140]}")
            differing += 1
    print(f"== {len(names) - differing} of {len(names)} sections match, "
          f"{differing} differ ==")
    sys.exit(1 if differing else 0)


if __name__ == "__main__":
    main()
