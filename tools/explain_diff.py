#!/usr/bin/env python3
"""Which cells' physical plans differ between two `Measure explain` logs.

    python3 tools/explain_diff.py PARENT.log CHANGE.log

Each log is the output of
`sbt -batch "runMain graft.Measure explain <sfDir> <name,...>"` (or of
the same main run without sbt), one `===== name =====` section per
cell. The tool keeps the plan text only: sbt's `[info] ` prefix is
removed, and sbt's other lines (`[error]`, `[warn]`, `[success]`) and
Spark log lines are dropped. Then it strips what differs between two
sessions planning the same query:

- expression ids `#N`;
- exchange and subquery plan ids `plan_id=N`;
- RDD ids such as `MapPartitionsRDD[N]`;
- the random suffix of the zone cells' scratch directories
  (`/tmp/graft-q136-<suffix>` becomes `/tmp/graft-q136-*`);
- the formatted plan's operator numbers (`Exchange (25)`), which an
  added operator shifts, so the first differing line is the operator
  itself.

For every cell whose stripped plan differs, it prints the cell's name,
the number of its first differing plan line and that line on both
sides. Cells present in one log only are listed as added or removed.
The last line counts the differing cells; the exit status is 1 if any
differ, as with `tools/oracle_diff.py`.
"""
import re
import sys

HEADER = re.compile(r"^===== ([a-z][a-z0-9_]*) =====$")
SBT_OTHER = re.compile(r"^\[(error|warn|success)\]")
SPARK_LOG = re.compile(r"^\d\d/\d\d/\d\d \d\d:\d\d:\d\d (TRACE|DEBUG|INFO|WARN|ERROR) ")
IDS = [
    (re.compile(r"#\d+"), ""),
    (re.compile(r"plan_id=\d+"), "plan_id=?"),
    (re.compile(r"RDD\[\d+\]"), "RDD[?]"),
    (re.compile(r"(/graft-q\w+?)-[^/\s,\]]+"), r"\1-*"),
    # operator numbers: one added operator renumbers every later one
    (re.compile(r" \(\d+\)$"), " (?)"),
    (re.compile(r"^\(\d+\) "), "(?) "),
    (re.compile(r"operator id = \d+"), "operator id = ?"),
]


def strip(line):
    for pat, rep in IDS:
        line = pat.sub(rep, line)
    return line


def sections(path):
    """{cell: [stripped plan lines]} of one explain log."""
    out, cur = {}, None
    with open(path, errors="replace") as f:
        for raw in f:
            line = raw.rstrip("\n")
            if SBT_OTHER.match(line):
                continue
            if line.startswith("[info] "):
                line = line[len("[info] "):]
            elif line == "[info]":
                line = ""
            if SPARK_LOG.match(line):
                continue
            m = HEADER.match(line.strip())
            if m:
                cur = out.setdefault(m.group(1), [])
            elif cur is not None:
                cur.append(strip(line))
    return {k: [l for l in v if l.strip()] for k, v in out.items()}


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    parent, change = sections(argv[1]), sections(argv[2])
    differ = 0
    for name in sorted(set(parent) | set(change)):
        if name not in change:
            print(f"{name}: removed")
        elif name not in parent:
            print(f"{name}: added")
        elif parent[name] != change[name]:
            a, b = parent[name], change[name]
            i = next((i for i, (x, y) in enumerate(zip(a, b)) if x != y), min(len(a), len(b)))
            print(f"{name}: first difference at plan line {i + 1}")
            print(f"  parent: {a[i].strip() if i < len(a) else '<end>'}")
            print(f"  change: {b[i].strip() if i < len(b) else '<end>'}")
        else:
            continue
        differ += 1
    print(f"{differ} of {len(set(parent) | set(change))} plans differ")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
