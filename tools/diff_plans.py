#!/usr/bin/env python3
"""Plan-identity check between two `graft.Explain` dumps.

    python3 tools/diff_plans.py OLD.txt NEW.txt [--show N]

Each dump is the stdout of `runMain graft.Explain <sfDir>` over every
query. The dumps are split on their `========== name ==========` headers,
run-to-run noise is masked (expression ids, plan ids, RDD ids, lambda and
object hashes, source-line call sites, codegen ids, the checkout root in
warehouse paths, the digits of `/tmp/graft_*` dirs, and the `[stream]`
timing lines that streaming queries print), and the remaining text is
compared query by query.

A few queries print plans that differ between two runs of the same code
(VARYING below); their differences are reported on their own line and do
not fail the check. Exit status: 0 when every other query is identical
and both dumps name the same queries, 1 otherwise.
"""
import argparse
import difflib
import re
import sys

# Expand order of the distinct groups (distinct_agg, profile_table), the
# runtime AQE plan of an eager build (kcore_decompose), two
# ShuffleQueryStage ids that swap (skipgram_negatives)
VARYING = ("distinct_agg", "profile_table", "kcore_decompose",
           "skipgram_negatives")

HEADER = re.compile(r"^========== (\S+) ==========$")

MASKS = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"Lambda\$\d+/0x[0-9a-f]+@[0-9a-f]+"), "Lambda$N/0xH@H"),
    (re.compile(r"@[0-9a-f]{4,}\b"), "@H"),
    (re.compile(r"(\w+\.scala):\d+"), r"\1:N"),
    (re.compile(r"codegen id : \d+"), "codegen id : N"),
    (re.compile(r"file:\S*?/spark-warehouse/"), "file:<root>/spark-warehouse/"),
    (re.compile(r"(/tmp/graft_[A-Za-z_]*?)\d+"), r"\1N"),
]


def split(path):
    """query name -> masked plan lines, in dump order."""
    plans, name = {}, None
    with open(path, encoding="utf-8", errors="replace") as fh:
        for raw in fh:
            line = raw.rstrip("\n")
            m = HEADER.match(line)
            if m:
                name = m.group(1)
                plans[name] = []
            elif name is not None and not line.startswith("[stream]"):
                for pat, rep in MASKS:
                    line = pat.sub(rep, line)
                plans[name].append(line)
    return plans


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("old")
    ap.add_argument("new")
    ap.add_argument("--show", type=int, default=20,
                    help="diff lines printed per differing query")
    args = ap.parse_args()
    old, new = split(args.old), split(args.new)

    only_old = sorted(set(old) - set(new))
    only_new = sorted(set(new) - set(old))
    common = [q for q in old if q in new]
    differ = [q for q in common if old[q] != new[q]]
    varying = [q for q in differ if q in VARYING]
    failing = [q for q in differ if q not in VARYING]

    for q in failing:
        diff = list(difflib.unified_diff(old[q], new[q], "old/" + q,
                                         "new/" + q, lineterm="", n=1))
        print(f"--- {q}: {len(diff)} diff lines")
        print("\n".join(diff[:args.show]))
    print(f"queries: {len(common)} compared, "
          f"{len(common) - len(differ)} identical, {len(failing)} differ")
    print("known-varying: " + (", ".join(
        f"{q} {'differs' if q in varying else 'identical'}"
        for q in VARYING if q in common) or "none present"))
    if only_old or only_new:
        print("only in old: " + (", ".join(only_old) or "-"))
        print("only in new: " + (", ".join(only_new) or "-"))
    if failing:
        print("differing: " + ", ".join(failing))
    return 1 if failing or only_old or only_new else 0


if __name__ == "__main__":
    sys.exit(main())
