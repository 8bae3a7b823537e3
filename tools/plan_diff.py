#!/usr/bin/env python3
"""Compare two sets of formatted physical plans written by graft.PlanDump.

    sbt "runMain graft.PlanDump <before_dir> before q52_minhash_lsh_pairs ..."
    sbt "runMain graft.PlanDump <after_dir> after q52_minhash_lsh_pairs ..."
    python3 tools/plan_diff.py <before_dir> <after_dir>

Each directory holds <query>_<tag>.txt files with one tag per directory.
Plans are compared after normalising what changes from run to run without
changing the plan: expression ids (#123), plan ids, RDD ids, source line
numbers of RDD call sites, and the numeric suffixes of temporary
directories. Prints a unified diff for every query whose plan differs and
every query present on one side only. Exits 1 if anything differs, else 0.
"""
import difflib
import os
import re
import sys

NORMALISE = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"(\w*RDD)\[\d+\]"), r"\1[N]"),
    (re.compile(r"(\w+\.scala):\d+"), r"\1:N"),
    (re.compile(r"(/tmp/[^\s/\],]*?)\d{5,}"), r"\1N"),
]


def normalise(text):
    for pattern, repl in NORMALISE:
        text = pattern.sub(repl, text)
    return text.splitlines(keepends=True)


def plans(directory):
    """{query: path} for the <query>_<tag>.txt files of one directory."""
    files = sorted(f for f in os.listdir(directory) if f.endswith(".txt"))
    tags = {f[:-len(".txt")].rsplit("_", 1)[-1] for f in files}
    if len(tags) > 1:
        sys.exit(f"{directory}: more than one tag ({', '.join(sorted(tags))})")
    return {f[:-len(".txt")].rsplit("_", 1)[0]: os.path.join(directory, f)
            for f in files}


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    before, after = plans(argv[1]), plans(argv[2])
    differing = 0
    for query in sorted(before.keys() | after.keys()):
        if query not in before or query not in after:
            side = argv[1] if query not in before else argv[2]
            print(f"MISSING {query} (not in {side})")
            differing += 1
            continue
        with open(before[query]) as b, open(after[query]) as a:
            diff = list(difflib.unified_diff(normalise(b.read()), normalise(a.read()),
                                             before[query], after[query]))
        if diff:
            print(f"DIFF {query}")
            sys.stdout.writelines(diff)
            differing += 1
    total = len(before.keys() | after.keys())
    print(f"{differing} of {total} plans differ" if differing
          else f"all {total} plans identical")
    return 1 if differing else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
