#!/usr/bin/env python3
"""Compare two directories of `graft.PlanDump` output, query by query.

Usage: python3 tools/plandiff.py <dirA> <dirB>

Each directory holds `<query>_<suffix>.txt` files (PlanDump's
`SPARK_GRAFT_PLAN_DIR` / `SPARK_GRAFT_PLAN_SUFFIX`); the suffix may differ
between the two directories. Before comparing, each plan is normalized so
that only plan shape counts:

  - expression ids `name#12L` -> `name#N` (the type suffix stays);
  - `plan_id=12` -> `plan_id=N`;
  - RDD ids `MapPartitionsRDD[34]` -> `MapPartitionsRDD[N]`, and source
    positions `Foo.scala:123` -> `Foo.scala:N` (a checkpoint's RDD is
    named after its call site);
  - scratch and temp paths (any path through a `graft_scratch*` dir,
    the names `graft.plans.Scratch` gives its dirs wherever
    `spark.graft.scratch.dir` puts them, and anything under `/tmp`,
    `/dev/shm` or `/var/tmp`) -> `<tmp>`.

Prints, per query, `identical` or a unified diff of the normalized plans,
then a summary line. Exits 0 when every query present in both is identical
and both hold the same queries, else 1.
"""
import difflib
import os
import re
import sys


TMP_PATH = re.compile(
    r"(file:)?([^\s,\[\]()]*/graft_scratch|/tmp/|/dev/shm/|/var/tmp/)[^\s,\])]*")


def normalize(text):
    text = re.sub(r"#\d+", "#N", text)
    text = re.sub(r"plan_id=\d+", "plan_id=N", text)
    text = re.sub(r"RDD\[\d+\]", "RDD[N]", text)
    text = re.sub(r"\.scala:\d+", ".scala:N", text)
    text = TMP_PATH.sub("<tmp>", text)
    return text.splitlines()


def plans(d):
    out = {}
    for f in sorted(f for f in os.listdir(d) if f.endswith(".txt")):
        name = f.rsplit("_", 1)[0]
        with open(os.path.join(d, f)) as fh:
            out[name] = normalize(fh.read())
    return out


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    a, b = plans(argv[1]), plans(argv[2])
    same = differ = 0
    for name in sorted(set(a) | set(b)):
        if name not in a or name not in b:
            print(f"== {name}: only in {argv[1] if name in a else argv[2]}")
            differ += 1
        elif a[name] == b[name]:
            print(f"== {name}: identical")
            same += 1
        else:
            print(f"== {name}: differs")
            sys.stdout.writelines(line + "\n" for line in difflib.unified_diff(
                a[name], b[name], f"{argv[1]}/{name}", f"{argv[2]}/{name}", lineterm=""))
            differ += 1
    print(f"plandiff: {same} identical, {differ} differ")
    return 0 if differ == 0 else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv))
