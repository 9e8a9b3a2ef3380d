#!/usr/bin/env python3
"""Compare two PlanDump files section by section.

Usage: python3 tools/plan_diff.py <before.md> <after.md>

A PlanDump file (`runMain graft.PlanDump <sfDir> <outFile>`) holds one
`## <query>` section per pick, each with the query's formatted physical plan.
Before comparing, every line is normalized so that ids which change from one
JVM run to the next do not count as differences:

  - expression ids      `doc_id#123`, `n#45L`     -> `doc_id#N`, `n#NL`
  - plan ids            `[plan_id=241]`           -> `[plan_id=N]`
  - lambda class names  `Foo$$Lambda$12/0x..@ab`  -> `Foo$$Lambda`
                        `<function2>`             -> `<function>`
  - HOF variable names  `lambda x_11`             -> `lambda x_N`
  - codegen stage ids   `[codegen id : 3]`        -> `[codegen id : N]`
  - AQE query stage ids the `Arguments: 15` line of a `...QueryStage` node

Spark numbers higher-order-function variables from one JVM-wide counter, so
their suffix follows how many such functions the JVM built before. AQE
numbers query stages and codegen stages in the order they materialize,
which varies between runs of the same plan; a bare `Arguments: <int>` of any
other node (a Coalesce or Limit count) is compared as it is.

For each section that differs (or exists in only one file) it prints the
first MAX_LINES differing lines, then a summary line. Exit status: 0 when
every section matches, 1 on any difference, 2 on a usage error.
"""
import argparse
import difflib
import re
import sys

NORMALIZERS = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"\$\$Lambda[$/\w]*(?:@[0-9a-f]+)?"), "$$Lambda"),
    (re.compile(r"<function\d+>"), "<function>"),
    (re.compile(r"(lambda [a-z]+)_\d+"), r"\1_N"),
    (re.compile(r"\[codegen id : \d+\]"), "[codegen id : N]"),
]
MAX_LINES = 8
NODE_HEADER = re.compile(r"^\(\d+\) (\w+)")
STAGE_ARGUMENTS = re.compile(r"^Arguments: \d+$")


def normalize(line):
    for pattern, repl in NORMALIZERS:
        line = pattern.sub(repl, line)
    return line


def sections(path):
    """Ordered {name: [normalized lines]} of the `## name` sections."""
    out = {}
    name = None
    node = ""
    with open(path, encoding="utf-8") as f:
        for raw in f:
            line = raw.rstrip("\n")
            if line.startswith("## "):
                name = line[3:].strip()
                out[name] = []
                continue
            if name is None:
                continue
            header = NODE_HEADER.match(line)
            if header:
                node = header.group(1)
            elif node.endswith("QueryStage") and STAGE_ARGUMENTS.match(line):
                line = "Arguments: N"
            out[name].append(normalize(line))
    return out


def main():
    ap = argparse.ArgumentParser(description="Compare two PlanDump files.")
    ap.add_argument("before")
    ap.add_argument("after")
    args = ap.parse_args()

    a, b = sections(args.before), sections(args.after)
    names = list(a) + [n for n in b if n not in a]
    differing = 0
    for name in names:
        if name not in a or name not in b:
            differing += 1
            where = args.after if name not in a else args.before
            print(f"## {name}: only in {where}")
            continue
        if a[name] == b[name]:
            continue
        differing += 1
        print(f"## {name}: differs")
        diff = [d for d in difflib.unified_diff(a[name], b[name], lineterm="", n=0)
                if not d.startswith(("---", "+++", "@@"))]
        for d in diff[:MAX_LINES]:
            print(f"  {d}")
        if len(diff) > MAX_LINES:
            print(f"  ... {len(diff) - MAX_LINES} more differing lines")
    print(f"{len(names)} sections compared, {differing} differ")
    return 1 if differing else 0


if __name__ == "__main__":
    sys.exit(main())
