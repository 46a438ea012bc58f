#!/usr/bin/env python3
"""Work with graft.Plans dumps (one formatted physical plan per query).

Split a dump into per-query files for a subset of queries:

    extract_plans.py <plans_dump.txt> <outdir> <suffix> <query> [query ...]

List the queries whose plans differ between two dumps, ignoring what
changes from one run of the same code to the next (expression, plan and
lambda-variable ids, checkpoint RDD labels, temp-dir paths, lambda class
names, and the group order of the distinct-aggregate rewrite's Expand):

    extract_plans.py --diff <dump_a.txt> <dump_b.txt>

The diff prints one query name per line (queries present in only one
dump are marked) and exits 1 if any query differs. On stderr it also
names the unchanged queries whose plan reads a pinned frame: a
localCheckpoint prints only as `Scan ExistingRDD`, so identical plans
there say nothing about the pinned subtree.
"""
import re
import sys
import pathlib

# "===== Subqueries =====" is a SECTION of the preceding query's
# formatted plan (scalar subqueries), not a query delimiter
PLAN_RE = re.compile(
    r"===== (?!Subqueries)(\S+) =====\n(.*?)(?=\n===== (?!Subqueries)|\Z)", re.S)

# how a pinned (localCheckpoint) frame prints: its subtree is not in the plan
PIN_SCAN = "Scan ExistingRDD"

# (pattern, replacement) applied in order to every plan
MASKS = [
    # expression ids: col#123, col#123L, subquery#45
    (re.compile(r"#\d+L?"), "#"),
    # exchange / broadcast plan ids: [plan_id=59422]
    (re.compile(r"plan_id=\d+"), "plan_id="),
    # pinned frames: MapPartitionsRDD[199] at localCheckpoint at X.scala:476
    (re.compile(r"\w*RDD\[\d+\] at (\w+) at [\w$.]+:\d+"), r"RDD at \1"),
    # temp directories, at any depth below /tmp:
    # /tmp/graft-sidindex-1192946408/graft_alarm_store123/store.alarms
    (re.compile(r"/tmp/[^\s,\]]*"),
     lambda m: re.sub(r"(?<=/)([A-Za-z_.-]*?)[-_]?\d+(?=/|$)", r"\1", m.group(0))),
    # higher-order-function variables, numbered JVM-wide: lambda x_102#
    (re.compile(r"(lambda \w+?)_\d+#"), r"\1_#"),
    # lambda classes: Foo$$$Lambda$6659/0x00007fa7997eb2c8@e0dbde5
    (re.compile(r"\$Lambda\$?\d*/0x[0-9a-f]+@[0-9a-f]+"), "$Lambda"),
]


def split_top(s):
    """Split `s` on the commas that sit outside any (...) or [...]."""
    out, depth, start = [], 0, 0
    for i, c in enumerate(s):
        if c in "([":
            depth += 1
        elif c in ")]":
            depth -= 1
        elif c == "," and depth == 0:
            out.append(s[start:i].strip())
            start = i + 1
    out.append(s[start:].strip())
    return out


def sort_lists(s):
    """Every [...] list of `s` with its items sorted, innermost first."""
    out, i = [], 0
    while i < len(s):
        if s[i] != "[":
            out.append(s[i])
            i += 1
            continue
        depth, j = 1, i + 1
        while depth:
            depth += {"[": 1, "]": -1}.get(s[j], 0)
            j += 1
        items = [sort_lists(x) for x in split_top(s[i + 1:j - 1])]
        out.append("[" + ", ".join(sorted(items)) + "]")
        i = j
    return "".join(out)


def unorder_distinct_groups(plan):
    """The distinct-aggregate rewrite (an Expand feeding HashAggregates)
    numbers its distinct groups and orders their columns differently
    from one run to the next. In such a plan compare column lists and
    hash keys as sets and mask the group ids.
    """
    plan = re.sub(r"gid#( = )\d+", r"gid#\1?", plan)
    plan = re.sub(r"hashpartitioning\(([^()]*), (\d+)\)",
                  lambda m: "hashpartitioning(" + ", ".join(sorted(split_top(m.group(1))))
                  + ", " + m.group(2) + ")", plan)
    lines = []
    for line in plan.split("\n"):
        if line.startswith("Arguments: [["):  # Expand's per-group gid literals
            line = re.sub(r"(?<=[\[ ])\d+(?=[,\]])", "?", line)
        lines.append(sort_lists(line))
    return "\n".join(lines)


def normalize(plan):
    for pat, rep in MASKS:
        plan = pat.sub(rep, plan)
    return unorder_distinct_groups(plan) if re.search(r"^\(\d+\) Expand$", plan, re.M) else plan


def read_plans(path):
    return dict(PLAN_RE.findall(open(path).read()))


def diff(a_path, b_path):
    a, b = read_plans(a_path), read_plans(b_path)
    changed = []
    for q in sorted(set(a) | set(b)):
        if q not in b:
            changed.append(f"{q} (only in {a_path})")
        elif q not in a:
            changed.append(f"{q} (only in {b_path})")
        elif normalize(a[q]) != normalize(b[q]):
            changed.append(q)
    for q in changed:
        print(q)
    print(f"{len(changed)} of {len(set(a) | set(b))} queries differ", file=sys.stderr)
    blind = [q for q in sorted(set(a) & set(b))
             if q not in changed and PIN_SCAN in a[q] + b[q]]
    if blind:
        print(f"{len(blind)} unchanged queries read a pinned frame ({PIN_SCAN}), "
              "unverified below the pin:", file=sys.stderr)
        for q in blind:
            print(f"  {q}", file=sys.stderr)
    return 1 if changed else 0


def extract(dump, outdir, suffix, queries):
    plans = read_plans(dump)
    outdir.mkdir(parents=True, exist_ok=True)
    for q in queries:
        if q not in plans:
            sys.exit(f"missing plan for {q} in {dump}")
        (outdir / f"{q}_{suffix}.txt").write_text(plans[q] + "\n")
    print(f"wrote {len(queries)} {suffix} plans to {outdir}")


if __name__ == "__main__":
    if len(sys.argv) == 4 and sys.argv[1] == "--diff":
        sys.exit(diff(sys.argv[2], sys.argv[3]))
    if len(sys.argv) < 5:
        sys.exit(__doc__)
    extract(sys.argv[1], pathlib.Path(sys.argv[2]), sys.argv[3], sys.argv[4:])
