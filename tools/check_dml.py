"""Gate: every row-level DML runs the one file-selective step.

Snapshots.dml (src/main/scala/graft/sources/Snapshots.scala) is the one
DML step: it finds the touched dirs, stages their kept and removed rows
as one split write and claims the new version inside the head-CAS loop,
so a lost claim re-probes instead of aborting. deleteWhere, updateWhere,
deleteBatch, deleteMatching, merge and mergeBatch are thin calls of it.

Scans src/main/scala and src/test/scala and fails on
  - any call of `deleteWhereSelective(` or `updateWhereSelective(`
    outside their two deprecated alias definitions;
  - any `.getOrElse(Snapshots.deleteWhere` or
    `.getOrElse(Snapshots.updateWhere` (the hand-written fallback the
    aborting selective pair used to need);
  - any call of `writeSplit(` outside the step, or of `probeTouched(`
    outside the step and the clustered-replica fold
    (`Snapshots.clusteredMaintain`, a watermark fold that re-clusters the
    runs it touches and writes no change sidecar, not a DML verb).
Scaladoc and line comments are skipped.

Exit 0 iff there is no hit.
"""
import pathlib
import re
import sys

SCAN = [pathlib.Path("src/main/scala"), pathlib.Path("src/test/scala")]
STEP_FILE = "Snapshots.scala"
MEMBER = re.compile(r"^  (?:(?:private|protected)(?:\[\w+\])?\s+|final\s+|override\s+"
                    r"|sealed\s+|case\s+|lazy\s+)*(?:def|val|var|class|object|trait)\s+(\w+)")
DEF = re.compile(r"\bdef\s+(\w+)\s*\(")

# pattern, what, Snapshots members whose bodies may contain it
CHECKS = [
    (re.compile(r"\b(?:deleteWhereSelective|updateWhereSelective)\s*\("),
     "deprecated selective alias call", ()),
    (re.compile(r"\.getOrElse\(\s*Snapshots\s*\.\s*(?:deleteWhere|updateWhere)\b"),
     "hand-written DML fallback", ()),
    (re.compile(r"\bwriteSplit\s*\("), "split write outside the DML step", ("dml",)),
    (re.compile(r"\bprobeTouched\s*\("), "touched-dir probe outside the DML step",
     ("dml", "clusteredMaintain")),
]


def code_lines(text):
    """(line number, line) pairs outside comments."""
    in_doc = False
    for i, line in enumerate(text.splitlines(), 1):
        s = line.strip()
        if in_doc:
            if "*/" in s:
                in_doc = False
            continue
        if s.startswith("/*"):
            in_doc = "*/" not in s
            continue
        if s.startswith("//") or s.startswith("*"):
            continue
        yield i, line.split("//")[0]


def hits(path):
    member = None
    for i, line in code_lines(path.read_text()):
        m = MEMBER.match(line)
        if m:
            member = m.group(1)
        defined = DEF.search(line)
        for pattern, what, members in CHECKS:
            found = pattern.search(line)
            if not found:
                continue
            if defined and defined.group(1) in found.group(0):
                continue  # the definition itself
            if path.name == STEP_FILE and member in members:
                continue
            yield i, what, line.strip()


def main() -> int:
    bad = [f"{f}:{i}: {what}: {line}"
           for root in SCAN
           for f in sorted(root.rglob("*.scala"))
           for i, what, line in hits(f)]
    for b in bad:
        print(f"DML {b}")
    print(f"== {len(bad)} DML writes outside the one file-selective step")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
