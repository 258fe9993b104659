#!/usr/bin/env python3
"""Diff two `graft.Explain` outputs query by query.

    python3 scripts/plan_diff.py BEFORE.txt AFTER.txt [query ...]

Each input is the stdout of `runMain graft.Explain <sfDir> <query> ...`
(sbt's own `[info]`-style lines may stay in). The plans are split at the
`========== <query> ==========` headers and masked before comparing, so
that only plan shape and expressions count:

  * expression ids        `vec_id#123L`        -> `vec_id#N`
  * plan ids              `[plan_id=42]`       -> `[plan_id=N]`
  * RDD ids               `MapPartitionsRDD[7]` -> `MapPartitionsRDD[N]`
  * checkpoint call site  `Tables.scala:165`   -> `Tables.scala:N`
  * Warehouse.once paths  `…_0f03e707_27886`   -> `…_0f03e707_PID`
  * JVM identity hashes of objects a plan prints, such as a broadcast
    Bloom filter's `[B@3ddfe20d` or a typed map's
    `Multimodal$$$Lambda$3617/0x00007f4f6cff1338@4951dc8c`

With query names, only those are compared. Prints a unified diff per
differing query and exits 1 if any query differs or is missing from one
side, 0 if all match.
"""
import difflib
import re
import sys

HEADER = re.compile(r"^========== (\S+) ==========$")
SBT_LINE = re.compile(r"^\[(info|warn|error|success|debug)\]")
MASKS = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"Tables\.scala:\d+"), "Tables.scala:N"),
    (re.compile(r"(graft_warehouse/[^\s\],]*_[0-9a-f]{8})_\d+"), r"\1_PID"),
    (re.compile(r"Lambda\$\d+/0x[0-9a-f]+"), "Lambda$N/0xN"),
    (re.compile(r"(?<=[\w$\]])@[0-9a-f]{5,8}\b"), "@HASH"),
]


def mask(line):
    for pat, rep in MASKS:
        line = pat.sub(rep, line)
    return line


def plans(path):
    """Map query name -> its masked plan lines, in file order."""
    out, name = {}, None
    with open(path, encoding="utf-8", errors="replace") as f:
        for raw in f:
            line = raw.rstrip("\n")
            m = HEADER.match(line)
            if m:
                name = m.group(1)
                out[name] = []
            elif name is not None and not SBT_LINE.match(line):
                out[name].append(mask(line))
    for lines in out.values():
        while lines and not lines[-1].strip():
            lines.pop()
    return out


def main(argv):
    if len(argv) < 3:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    before, after = plans(argv[1]), plans(argv[2])
    keys = argv[3:] or sorted(set(before) | set(after))
    differing = []
    for k in keys:
        if k not in before or k not in after:
            side = argv[1] if k not in before else argv[2]
            print(f"--- {k}: missing from {side}")
            differing.append(k)
            continue
        if before[k] != after[k]:
            differing.append(k)
            sys.stdout.writelines(
                l + "\n" for l in difflib.unified_diff(
                    before[k], after[k], f"{k} (before)", f"{k} (after)",
                    n=1, lineterm=""))
    same = len(keys) - len(differing)
    print(f"{same} same, {len(differing)} differ"
          + (": " + " ".join(differing) if differing else ""))
    return 1 if differing else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
