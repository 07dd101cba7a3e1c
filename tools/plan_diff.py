#!/usr/bin/env python3
"""Compare two directories of formatted physical plans, one file per query.

    python3 tools/plan_diff.py DIR_A DIR_B

Each directory is the `outDir` of a plan dump:

    sbt "runMain graft.Explain <q1>,<q2>,... /root/testdata/sf0.01 0 DIR"

Before comparing, every plan is masked of what changes from run to run
without changing the work done:

  - expression ids            `doc_id#107L`            -> `doc_id#NL`
  - RDD ids                   `MapPartitionsRDD[37]`   -> `MapPartitionsRDD[N]`
  - exchange plan ids         `[plan_id=831]`          -> `[plan_id=N]`
  - call sites                `at Dedup.scala:399`     -> `at Dedup.scala:N`
  - lambda variable suffixes  `lambda x_27`            -> `lambda x_N`
  - observation names (UUIDs) `CollectMetrics` arguments -> `UUID`
  - lambda identities         `Multimodal$$$Lambda$6115/0x00007f07dd81ad58@596eead4`
                                                       -> `Multimodal$$$Lambda$N`
  - AQE query-stage ids       `Arguments: 19` under `(15) BroadcastQueryStage`
                              (any `...QueryStage`)    -> `Arguments: N`

Two run-to-run differences are NOT masked, because they change the plan's
shape rather than a label: AQE's BuildLeft/BuildRight pick between two
equal-size sides, and the exprId-dependent column order of a
distinct-aggregate `Expand`. Where a query shows one of these, compare
against a second dump of the same tree to see whether it is noise.

Prints a unified diff of the masked text for every query whose plans
differ, and one line for a query that has a plan on one side only. Exits 1
if anything differs, 0 if every query's masked plans are equal.
"""
import difflib
import re
import sys
from pathlib import Path

MASKS = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"(\w+\.scala):\d+"), r"\1:N"),
    (re.compile(r"\b([a-z])_\d+\b"), r"\1_N"),
    (re.compile(r"\b[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}\b"), "UUID"),
    (re.compile(r"\$Lambda\$\d+/0x[0-9a-f]+@[0-9a-f]+"), "$Lambda$N"),
    (re.compile(r"(\(\d+\) \w+QueryStage\nOutput [^\n]*\nArguments: )\d+"), r"\1N"),
]


def masked(path):
    text = path.read_text()
    for pattern, repl in MASKS:
        text = pattern.sub(repl, text)
    return text.splitlines(keepends=True)


def main(argv):
    if len(argv) != 3:
        print("usage: tools/plan_diff.py DIR_A DIR_B", file=sys.stderr)
        return 2
    a, b = Path(argv[1]), Path(argv[2])
    names_a = {p.name for p in a.glob("*.txt")}
    names_b = {p.name for p in b.glob("*.txt")}
    differ = 0
    for name in sorted(names_a | names_b):
        query = name[:-len(".txt")]
        if name not in names_b or name not in names_a:
            side = a if name in names_a else b
            print(f"== {query}: plan only in {side}")
            differ += 1
            continue
        diff = list(difflib.unified_diff(masked(a / name), masked(b / name),
                                         fromfile=str(a / name), tofile=str(b / name)))
        if diff:
            print(f"== {query}: plans differ")
            sys.stdout.writelines(diff)
            differ += 1
    total = len(names_a | names_b)
    print(f"== {total - differ} of {total} queries equal, {differ} differ")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
