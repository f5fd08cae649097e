#!/usr/bin/env python3
"""Diff two `runMain graft.PlanAudit` captures key by key.

A refactor that claims "plans unchanged" is checked by capturing PlanAudit
over the same keys before and after the change and diffing the two
captures. Raw captures never match byte-for-byte: every run assigns fresh
expression ids, plan ids and RDD ids, and staged scratch tables land in
randomly-suffixed temp directories. This tool normalizes those away, then
compares each `=== PLAN: <key> ===` section.

Normalized (replaced by a fixed token):
  - expression ids                 `vec_id#123L` -> `vec_id#_L`
  - plan ids                       `[plan_id=45]` -> `[plan_id=_]`
  - RDD ids                        `MapPartitionsRDD[12]`, `rdd 12` -> `[_]`
  - JVM lambda class names         `$Lambda$123/0x0000...@1a2b3c` -> `$Lambda_`
  - random scratch/temp dir suffixes  `graft_lsh_index_9234933...` -> `graft_lsh_index__`
  - identity hashes of Scala objects  `AdvancedAggs$GeoMean$@21e7206a` -> `AdvancedAggs$GeoMean$@_`
  - part-file write UUIDs          `part-00000-<uuid>-c000.snappy.parquet` -> `part-00000-_-c000.snappy.parquet`

Content hashes stay: `UnsafeArrayData@f1dd012b` hashes the array's bytes,
so a change there is a change in the plan's literal.

Usage:
  python3 tools/plan_diff.py <parentDump> <changeDump>

Prints `identical` or a unified diff per key (keys present in only one
capture are reported as missing) and exits 1 on any difference, 0 when
every key matches.
"""
import difflib
import re
import sys

HEADER = re.compile(r"^=== PLAN: (\S+) ===$")

NORMALIZE = [
    (re.compile(r"#\d+"), "#_"),
    (re.compile(r"\[plan_id=\d+\]"), "[plan_id=_]"),
    (re.compile(r"\$Lambda(?:\$\d+)?(?:/0x[0-9a-f]+)?(?:@[0-9a-f]+)?"), "$Lambda_"),
    (re.compile(r"(RDD\w*)\[\d+\]"), r"\1[_]"),
    (re.compile(r"\b(rdd|RDD) ?\d+\b"), r"\1 _"),
    # random numeric suffixes of temp/scratch directories
    # (File.createTempFile / Files.createTempDirectory style names)
    (re.compile(r"(/[A-Za-z][\w.-]*?_)-?\d{6,}"), r"\1_"),
    (re.compile(r"(/(?:spark|blockmgr|temp|tmp)-)[0-9a-f-]{8,}"), r"\1_"),
    # a Scala object's default toString carries its per-JVM identity hash
    (re.compile(r"\$@[0-9a-f]+\b"), "$@_"),
    # the UUID Spark puts in every file name it writes
    (re.compile(r"\b(part-\d+-)[0-9a-f]{8}(?:-[0-9a-f]{4}){3}-[0-9a-f]{12}"),
     r"\1_"),
]


def normalize(line):
    for pat, rep in NORMALIZE:
        line = pat.sub(rep, line)
    return line


def sections(path):
    """Map each PLAN key to its normalized lines (text before the first
    header — sbt's build log — is ignored)."""
    out = {}
    key = None
    with open(path, encoding="utf-8", errors="replace") as f:
        for raw in f:
            line = raw.rstrip("\n")
            m = HEADER.match(line.strip())
            if m:
                key = m.group(1)
                out[key] = []
            elif key is not None:
                out[key].append(normalize(line))
    # trailing blank lines differ with the next header's spacing
    for lines in out.values():
        while lines and not lines[-1].strip():
            lines.pop()
    return out


def main(parent_path, change_path):
    a = sections(parent_path)
    b = sections(change_path)
    if not a and not b:
        print("no '=== PLAN: <key> ===' sections in either capture")
        return 1
    differ = 0
    for key in list(a) + [k for k in b if k not in a]:
        if key not in a or key not in b:
            where = parent_path if key in a else change_path
            print(f"{key}: MISSING (only in {where})")
            differ += 1
        elif a[key] == b[key]:
            print(f"{key}: identical")
        else:
            differ += 1
            print(f"{key}: DIFFERS")
            sys.stdout.writelines(
                line + "\n" for line in difflib.unified_diff(
                    a[key], b[key], f"parent/{key}", f"change/{key}",
                    lineterm=""))
    total = len(set(a) | set(b))
    print(f"{total - differ} identical, {differ} differ")
    return 1 if differ else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit("usage: plan_diff.py <parentDump> <changeDump>")
    sys.exit(main(sys.argv[1], sys.argv[2]))
