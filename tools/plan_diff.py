#!/usr/bin/env python3
"""Compare two tools/PlanDump output directories key by key.

Usage: python3 tools/plan_diff.py <dir_a> <dir_b>

PlanDump writes one `<key>_<tag>.txt` plan per query key (the tag must not
contain `_`). Files are paired by key. Before comparing, each plan is masked
of what changes from run to run on identical code:
  - expression ids (`#123`, `#123L`) and lambda variable ids (`x_12`);
  - exchange `plan_id`s;
  - object hashes (`@1a2b3c`) and lambda class names;
  - whole-stage codegen ids (`*(3)`, `[codegen id : 3]`);
  - AQE query-stage ids, RDD ids and the source line of an RDD's call site.
Prints a unified diff for each key that differs or is missing on one side,
then a summary line. Exits 1 on any difference, 0 when every key matches.
NOT part of the shipped library — dev tooling only.
"""
import difflib
import os
import re
import sys

MASKS = [
    (re.compile(r"#\d+L?\b"), "#n"),
    (re.compile(r"\blambda (\w+?)_\d+\b"), r"lambda \1_n"),
    (re.compile(r"plan_id=\d+"), "plan_id=n"),
    (re.compile(r"\$\$Lambda[\w$/.]*"), "$$Lambda"),
    (re.compile(r"@[0-9a-f]{4,}\b"), "@h"),
    (re.compile(r"\*\(\d+\)"), "*(n)"),
    (re.compile(r"\[codegen id : \d+\]"), "[codegen id : n]"),
    (re.compile(r"\b(\w*QueryStage) \d+"), r"\1 n"),
    (re.compile(r"RDD\[\d+\]"), "RDD[n]"),
    (re.compile(r"\.scala:\d+"), ".scala:n"),
    (re.compile(r"\brdd_\d+"), "rdd_n"),
]


def mask(text):
    for pat, rep in MASKS:
        text = pat.sub(rep, text)
    return text


def plans(d):
    out = {}
    for f in sorted(os.listdir(d)):
        if f.endswith(".txt") and "_" in f:
            with open(os.path.join(d, f)) as fh:
                out[f[:-4].rsplit("_", 1)[0]] = (f, mask(fh.read()).splitlines())
    return out


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    a, b = plans(argv[1]), plans(argv[2])
    differ = []
    for key in sorted(set(a) | set(b)):
        if key not in a or key not in b:
            print(f"== {key}: only in {argv[1] if key in a else argv[2]}")
            differ.append(key)
            continue
        (fa, la), (fb, lb) = a[key], b[key]
        diff = list(difflib.unified_diff(la, lb, fa, fb, lineterm="", n=1))
        if diff:
            print(f"== {key}: {sum(1 for l in diff if l[:1] in '+-') - 2} changed lines")
            print("\n".join(diff))
            differ.append(key)
    print(f"{len(set(a) | set(b)) - len(differ)} keys identical, "
          f"{len(differ)} differ: {','.join(differ)}")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
