#!/usr/bin/env python3
"""Checks that a benchmark run, after its build, writes nothing in the
repository and leaves no scratch directory behind.

Usage (from the repository root):
  python3 e2ebench/test_hygiene.py [workload ...]

Builds first (the build writes .bench_build/ only), then
snapshots every file and directory under the repository root, ignored ones
and .bench_build/ included, with size, mode and mtime; runs one short
untraced and one traced run of each workload (default: all); snapshots
again and fails listing every path that appeared, vanished or changed, and
every run scratch directory left in the system temp dir.
"""
import os
import subprocess
import sys
import tempfile
from pathlib import Path

sys.dont_write_bytecode = True
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
from run import WORKLOADS, prepare  # noqa: E402


def snapshot():
    snap = {}
    for d, dirs, files in os.walk(ROOT):
        for name in dirs + files:
            p = Path(d, name)
            st = p.lstat()
            snap[str(p.relative_to(ROOT))] = (st.st_size, st.st_mode, st.st_mtime_ns)
        st = Path(d).lstat()
        snap[str(Path(d).relative_to(ROOT))] = (st.st_size, st.st_mode, st.st_mtime_ns)
    return snap


def scratch_dirs():
    return set(Path(tempfile.gettempdir()).glob("e2ebench-*"))


def main():
    workloads = sys.argv[1:] or list(WORKLOADS)
    prepare()
    before, scratch_before = snapshot(), scratch_dirs()
    for w in workloads:
        for trace in ("0", "1"):
            r = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", w,
                                "--seed", "1", "--seconds", "1", "--trace", trace],
                               cwd=ROOT, capture_output=True, text=True)
            if r.returncode != 0:
                sys.exit(f"{w} trace={trace} failed:\n{r.stderr[-3000:]}")
    after = snapshot()
    changed = sorted(k for k in before.keys() | after.keys()
                     if before.get(k) != after.get(k))
    for k in changed:
        print(f"changed: {k}  {before.get(k)} -> {after.get(k)}")
    left = sorted(scratch_dirs() - scratch_before)
    for p in left:
        print(f"left behind: {p}")
    if changed or left:
        sys.exit(f"{len(changed)} repository paths changed, "
                 f"{len(left)} scratch directories left")
    print(f"ok: {len(before)} paths unchanged after {len(workloads) * 2} runs")


if __name__ == "__main__":
    main()
