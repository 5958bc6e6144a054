"""Self-tests of the benchmark's correctness checks: each check is fed a right
answer and a deliberately wrong one (a dropped delete, one changed value, one
extra row, a survivor missing from a planted cluster, one neighbour swapped)
and must pass the first and catch the second.

    python3 lakebench/selftest.py

Run from the root of a graft checkout; exits 0 when every check behaves.
"""
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402


def main():
    try:
        classpath = build.ensure_built()[0]
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    return subprocess.run(["java", "-XX:-UsePerfData", "-cp", classpath,
                           "lakebench.SelfTest"],
                          timeout=120).returncode


if __name__ == "__main__":
    sys.exit(main())
