"""Self-test of the seeded generator. From the repository root:

    python3 perfbench/selftest.py [seed]

The same seed, generated twice, must give an identical raw field, an
identical catalog and an identical task list (resolve → plan, for both
catalog workloads). Another seed must give the same shapes (files,
schemas, row counts, task ids and slice ranges) with different values.
The query workloads' committed tables must match `testdata/SHA256SUMS`,
and their query lists must be free of duplicates. Exits non-zero on the
first difference.
"""
import json
import os
import shutil
import sys

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


def shapes(root, manifest):
    out = {}
    for rel in manifest:
        md = pq.read_metadata(os.path.join(root, rel))
        out[rel] = (md.num_rows, str(md.schema.to_arrow_schema()))
    return out


def plan(classpath, root, workload, seed, tag):
    out = os.path.join(root, build.BUILD, "selftest", f"plan-{tag}")
    shutil.rmtree(out, ignore_errors=True)
    run.run_jvm(classpath, ["--workload", workload, "--seed", str(seed), "--seconds", "0",
                            "--trace", "0", "--inputs", out, "--out", out, "--plan-only", "1"], root)
    with open(os.path.join(out, "plan.json")) as f:
        return json.load(f)


def expect(cond, what):
    if not cond:
        raise SystemExit(f"selftest FAILED: {what}")
    print(f"ok  {what}")


def main():
    seed = int(sys.argv[1]) if len(sys.argv) > 1 else 1
    other = seed + 1
    root = os.getcwd()
    base = os.path.join(root, build.BUILD, "selftest")
    shutil.rmtree(base, ignore_errors=True)
    a1 = gen.generate(os.path.join(base, "a1"), seed)
    a2 = gen.generate(os.path.join(base, "a2"), seed)
    b = gen.generate(os.path.join(base, "b"), other)
    expect(a1 == a2, f"seed {seed} twice: identical checksums of {len(a1)} input files")
    expect(sorted(a1) == sorted(b), f"seed {other}: the same input files")
    expect(shapes(os.path.join(base, "a1"), a1) == shapes(os.path.join(base, "b"), b),
           f"seed {other}: the same schemas and row counts")
    expect(all(a1[f] != b[f] for f in a1), f"seed {other}: different values in every file")

    classpath = build.build(root)
    for w in ("mop_monthly", "mop_subdaily"):
        p1 = plan(classpath, root, w, seed, "1")
        p2 = plan(classpath, root, w, seed, "2")
        q = plan(classpath, root, w, other, "3")
        expect(p1 == p2, f"{w} seed {seed} twice: identical catalog and task list "
                         f"({len(p1['tasks'])} tasks)")
        key = lambda p: sorted((t["id"], t["start_us"], t["end_us"], t["drs"]) for t in p["tasks"])
        expect(key(p1) == key(q) and p1["unmatched"] == q["unmatched"],
               f"{w} seed {other}: the same tasks and slices")
    here = os.path.dirname(os.path.abspath(__file__))
    tables = os.path.join(here, "testdata")
    with open(os.path.join(tables, "SHA256SUMS")) as f:
        sums = [line.split() for line in f if line.strip()]
    expect(all(gen.checksum(os.path.join(tables, rel)) == h for h, rel in sums),
           f"the {len(sums)} committed query tables match SHA256SUMS")
    with open(os.path.join(here, "workloads.json")) as f:
        lists = json.load(f)
    expect(all(len(v) == len(set(v)) for v in lists.values()),
           "query lists are fixed and free of duplicates")
    print("selftest passed")


if __name__ == "__main__":
    main()
