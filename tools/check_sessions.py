"""Gate: every entry point builds its session through GraftSession.create.

GraftSession.create (src/main/scala/graft/Core.scala) is the one session
factory: it installs graft's extensions (native functions, the optimizer
rules), the session confs every query relies on, and the persisted MV
catalog. A hand-built session runs a different engine from the one that
ships, and a query that writes session conf changes the engine under
every other query that shares the session.

Scans src/main/scala and fails, outside `object GraftSession`, on
  - any `SparkSession.builder`;
  - any `.withExtensions(`;
  - any `registerFunctions` (the hand-install path for sessions not
    built by the factory);
and anywhere on a `conf.set("spark.sql.legacy.parquet.nanosAsLong"`
(the factory sets it as a builder config, not a conf write).
Scaladoc and line comments are skipped.

Exit 0 iff there is no hit.
"""
import pathlib
import re
import sys

SCAN = pathlib.Path("src/main/scala")
FACTORY = re.compile(r"^object GraftSession\b")
TOP = re.compile(r"^(?:(?:final|sealed|abstract|case|(?:private|protected)(?:\[\w+\])?)\s+)*"
                 r"(?:object|class|trait)\s+\w+")

CHECKS = [
    (re.compile(r"\bSparkSession\s*\.\s*builder\b"), "SparkSession.builder", True),
    (re.compile(r"\.withExtensions\("), ".withExtensions(", True),
    (re.compile(r"\bregisterFunctions\b"), "registerFunctions", True),
    (re.compile(r"conf\.set\(\s*\"spark\.sql\.legacy\.parquet\.nanosAsLong\""),
     "nanosAsLong conf write", False),
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
    in_factory = False
    for i, line in code_lines(path.read_text()):
        if TOP.match(line):
            in_factory = bool(FACTORY.match(line))
        for pattern, what, factory_may in CHECKS:
            if pattern.search(line) and not (factory_may and in_factory):
                yield i, what, line.strip()


def main() -> int:
    bad = [f"{f}:{i}: {what}: {line}"
           for f in sorted(SCAN.rglob("*.scala"))
           for i, what, line in hits(f)]
    for b in bad:
        print(f"SESSION {b}")
    print(f"== {len(bad)} session builds, extension installs or session-conf "
          f"flag writes outside GraftSession.create")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
