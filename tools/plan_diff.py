#!/usr/bin/env python3
"""Compare two directories of per-query physical plans.

    tools/plan_diff.py <parent_plans_dir> <change_plans_dir>

Each directory holds one `<query>.txt` per query, as `graft.Verify` writes
them into its `<out>_verify_plans` sibling. Before comparing, each plan is
masked so that only real plan changes show:

  * expression ids (`doc_id#123`, `count#45L`)     -> `#?`
  * `plan_id=<n>`                                   -> `plan_id=?`
  * RDD ids, a session counter (`MapPartitionsRDD[1451]`) -> `MapPartitionsRDD[?]`
  * the directory part of file locations, which names the checkout
    (`file:/work/a/target/synth/sf0.001/documents`) -> `<path>/sf0.001/documents`
  * JVM lambda class names and identity hashes
    (`Foo$$$Lambda$57/0x00007f1d@15b9`, `[[F@1b2c3d`) -> `$Lambda@?`, `@?`

It prints a unified diff of the masked plans per differing query, then one
summary line, and exits 1 when any query differs or exists on one side only.
"""
import difflib
import os
import re
import sys

MASKS = [
    (re.compile(r"#\d+L?\b"), "#?"),
    (re.compile(r"plan_id=\d+"), "plan_id=?"),
    (re.compile(r"(RDD)\[\d+\]"), r"\1[?]"),
    (re.compile(r"file:/[^\s,\]]*?([^/\s,\]]+/[^/\s,\]]+)(?=[\s,\]])"), r"<path>/\1"),
    (re.compile(r"\$Lambda\$\d+/0x[0-9a-f]+@[0-9a-f]+"), "$Lambda@?"),
    (re.compile(r"(\[+[A-Za-z][\w.$;]*)@[0-9a-f]+"), r"\1@?"),
]


def masked(path):
    with open(path, encoding="utf-8") as f:
        text = f.read()
    for pattern, repl in MASKS:
        text = pattern.sub(repl, text)
    return text.splitlines(keepends=True)


def plans(d):
    return {f[:-len(".txt")] for f in os.listdir(d) if f.endswith(".txt")}


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    parent_dir, change_dir = argv[1], argv[2]
    parent, change = plans(parent_dir), plans(change_dir)
    differing = []
    for q in sorted(parent | change):
        if q not in change or q not in parent:
            side = "parent" if q in parent else "change"
            print(f"=== {q}: only in {side}")
            differing.append(q)
            continue
        a = masked(os.path.join(parent_dir, q + ".txt"))
        b = masked(os.path.join(change_dir, q + ".txt"))
        if a != b:
            print(f"=== {q}")
            sys.stdout.writelines(difflib.unified_diff(a, b, "parent/" + q, "change/" + q))
            differing.append(q)
    print(f"{len(parent | change)} queries, {len(differing)} differ"
          + (": " + ", ".join(differing) if differing else ""))
    return 1 if differing else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
