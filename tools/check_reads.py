"""Gate: outside graft.sources, no code builds a build-once table or reads
committed snapshot dirs by path.

A build-once table (graft.sources.BuildOnce) owns its content key, its
claim-elected build (Snapshots.ensureIndex) and its read, which applies
the manifest's committed schema so resolving the frame starts no Spark
job. A raw `read.parquet(Snapshots.versionDirs(...))` skips that schema
and runs Spark's schema-inference job on every resolution; a direct
ensureIndex call re-derives the key and the read by hand.

Scans src/main/scala outside src/main/scala/graft/sources/ and fails on
  - any call `ensureIndex(`;
  - any reader call (`.parquet(`, `.csv(`, `.json(`) whose argument is a
    `versionDirs(` call, or a name the same file binds to one
    (`val mvDirs = Snapshots.versionDirs(...)`, read as `mvDirs` or
    `mv.mvDirs`).
Scaladoc and line comments are skipped. EXCEPTIONS lists the reads that
stay, each with its reason (none today).

Exit 0 iff every hit is an exception.
"""
import pathlib
import re
import sys

SCAN = pathlib.Path("src/main/scala")
OWNER = SCAN / "graft" / "sources"

# (file, enclosing member, reason)
EXCEPTIONS = []

ENSURE = re.compile(r"\bensureIndex\s*\(")
BOUND = re.compile(r"\bval\s+(\w+)\s*=.*\bversionDirs\(")
# an object or class member (two-space indent): the enclosing def or val
MEMBER = re.compile(r"^  (?:(?:private|protected)(?:\[\w+\])?\s+)?(?:def|val|lazy val)\s+(\w+)")


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
    text = path.read_text()
    lines = list(code_lines(text))
    bound = {m.group(1) for _, l in lines for m in [BOUND.search(l)] if m}
    names = "|".join(map(re.escape, sorted(bound)))
    arg = r"(?:[\w.]*\bversionDirs\(" + (rf"|(?:\w+\.)?(?:{names})\b" if names else "") + ")"
    reader = re.compile(r"\.(?:parquet|csv|json)\(\s*" + arg)
    enclosing = None
    for i, line in lines:
        d = MEMBER.match(line)
        if d:
            enclosing = d.group(1)
        if ENSURE.search(line):
            yield i, enclosing, "ensureIndex call", line.strip()
        if reader.search(line):
            yield i, enclosing, "read of committed dirs by path", line.strip()


def main() -> int:
    bad, allowed = [], []
    for f in sorted(SCAN.rglob("*.scala")):
        if OWNER in f.parents:
            continue
        for i, enclosing, what, line in hits(f):
            exc = [r for p, d, r in EXCEPTIONS if p == str(f) and d == enclosing]
            (allowed if exc else bad).append(
                f"{f}:{i} ({enclosing}): {what}: {line}" + (f"  [{exc[0]}]" if exc else ""))
    for a in allowed:
        print(f"EXCEPTION {a}")
    for b in bad:
        print(f"RAW BUILD/READ {b}")
    print(f"== {len(bad)} raw build-once builds or committed-dir reads outside "
          f"graft.sources ({len(allowed)} named exceptions)")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
