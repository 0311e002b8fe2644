"""Gate: no hardcoded filesystem-root literals in src/main, src/test or
build.sbt outside graft.Roots (Core.scala). Every persisted table/index/sink path
must build from Roots.scratch / Roots.repo so a deployment repoints one
env-overridable object (SPARK_GRAFT_REPO_ROOT / SPARK_GRAFT_SCRATCH)
instead of auditing 45 call sites, and so each forked test suite keeps
to the scratch root its group sets. build.sbt is scanned because it
sets those per-suite roots: they must derive from the build's own base
directory, or tests run from another checkout write into this one.

Exit 0 iff the only fixed checkout-root literal under src/main,
src/test and build.sbt is the Roots default itself.
"""
import pathlib
import re
import sys

ALLOWED = re.compile(
    r'sys\.env\.getOrElse\("SPARK_GRAFT_REPO_ROOT",\s*"/root/repo"\)')


def main() -> int:
    bad = []
    files = [f for d in ("src/main", "src/test")
             for f in sorted(pathlib.Path(d).rglob("*.scala"))]
    files.append(pathlib.Path("build.sbt"))
    for f in files:
        for i, line in enumerate(f.read_text().splitlines(), 1):
            if "/root/repo" in line and not ALLOWED.search(line):
                bad.append(f"{f}:{i}: {line.strip()}")
    for b in bad:
        print(f"HARDCODED root literal: {b}")
    print(f"== {len(bad)} stray root literals in src/main, src/test and build.sbt")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
