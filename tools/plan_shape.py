#!/usr/bin/env python3
"""Compare the plan shapes of two PlanAudit dumps.

Usage:
    python3 tools/plan_shape.py <before.md> <after.md>

Each file is a `graft.PlanAudit --dump ... --out FILE` dump: one
"## <query>" heading per query, followed by a fenced formatted physical
plan.  Ids that change from run to run are normalized away before any
comparison:
  - expression ids (`vec_id#123L` -> `vec_id`), `[id=...]`, `[plan_id=...]`;
  - RDD ids (`MapPartitionsRDD[45]` -> `MapPartitionsRDD[]`) and source
    line numbers in RDD call sites (`Dedup.scala:554`);
  - numbered lambda variables (`lambda x_262` -> `lambda x_`) and JVM
    lambda instances (`Similarity$$$Lambda$5496/0x7ff8...@2b9b907e`);
  - operator ordinals `(n)` and codegen stage ids, which renumber
    whenever one operator is added.

The script prints, per query, the counts of the operators whose number
is a plan's cost shape (Exchange, BroadcastExchange, Generate,
InMemoryTableScan, BroadcastNestedLoopJoin), read off the plan tree with
repeated subtrees counted each time they are rendered; then a unified
diff of every query whose normalized text differs.  It exits 1 if any
count differs (or a query is missing from one side), else 0.
"""

import difflib
import re
import sys

OPERATORS = ("Exchange", "BroadcastExchange", "Generate",
             "InMemoryTableScan", "BroadcastNestedLoopJoin")

_NORMALIZERS = [
    (re.compile(r"#\d+"), ""),
    (re.compile(r"\[(plan_)?id=\d+\]"), ""),
    (re.compile(r"RDD\[\d+\]"), "RDD[]"),
    (re.compile(r"(\w+\.scala):\d+"), r"\1"),
    (re.compile(r"(lambda \w+?_)\d+"), r"\1"),
    (re.compile(r"\$Lambda\$\d+/0x[0-9a-f]+@[0-9a-f]+"), "$Lambda"),
    (re.compile(r" \(\d+\)( \(columnarIn=\w+, columnarOut=\w+\))?$", re.M),
     r" (n)\1"),
    (re.compile(r"^\(\d+\) ", re.M), "(n) "),
    (re.compile(r"codegen id : \d+"), "codegen id : n"),
]


def sections(path):
    """Maps each "## name" heading to the text of its section."""
    out, name, lines = {}, None, []
    with open(path, encoding="utf-8") as f:
        for line in f:
            if line.startswith("## "):
                if name is not None:
                    out[name] = "".join(lines)
                name, lines = line[3:].strip(), []
            elif name is not None:
                lines.append(line)
    if name is not None:
        out[name] = "".join(lines)
    return out


def normalize(text):
    for pattern, repl in _NORMALIZERS:
        text = pattern.sub(repl, text)
    return text


def tree_lines(text):
    """The rendered operator tree: the lines after "== Physical Plan =="
    up to the first blank line."""
    lines = text.splitlines()
    try:
        start = next(i for i, l in enumerate(lines)
                     if l.strip() == "== Physical Plan ==") + 1
    except StopIteration:
        return []
    tree = []
    for line in lines[start:]:
        if not line.strip():
            break
        tree.append(line)
    return tree


def operator_counts(text):
    counts = dict.fromkeys(OPERATORS, 0)
    for line in tree_lines(text):
        words = re.sub(r"^[\s:|+\-*]+", "", line).split()
        if words and words[0] in counts:
            counts[words[0]] += 1
    return counts


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    before, after = sections(argv[1]), sections(argv[2])
    names = sorted(set(before) | set(after))
    width = max([len(n) for n in names] + [5])
    abbrev = {"Exchange": "Exch", "BroadcastExchange": "BExch",
              "Generate": "Gen", "InMemoryTableScan": "IMTS",
              "BroadcastNestedLoopJoin": "BNLJ"}
    print(f"{'query':<{width}}  " +
          "  ".join(f"{abbrev[o]:>11}" for o in OPERATORS) + "  text")
    failed, changed = False, []
    for name in names:
        if name not in before or name not in after:
            side = "before" if name not in before else "after"
            print(f"{name:<{width}}  missing from {side}")
            failed = True
            continue
        b, a = normalize(before[name]), normalize(after[name])
        cb, ca = operator_counts(b), operator_counts(a)
        cells = []
        for op in OPERATORS:
            cell = str(cb[op]) if cb[op] == ca[op] else f"{cb[op]}->{ca[op]}"
            cells.append(f"{cell:>11}")
        if cb != ca:
            failed = True
        same = b == a
        if not same:
            changed.append(name)
        print(f"{name:<{width}}  " + "  ".join(cells) +
              ("  same" if same else "  differs") +
              ("" if cb == ca else "  COUNTS DIFFER"))
    for name in changed:
        print(f"\n=== {name}")
        sys.stdout.writelines(difflib.unified_diff(
            normalize(before[name]).splitlines(keepends=True),
            normalize(after[name]).splitlines(keepends=True),
            fromfile=f"before/{name}", tofile=f"after/{name}", n=1))
    print(f"\n{len(names)} queries, {len(changed)} with differing text, "
          f"operator counts {'DIFFER' if failed else 'identical'}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
