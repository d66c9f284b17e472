#!/usr/bin/env python3
"""End-to-end benchmark of the spot daemon, the hot operator board and the
document daemon.

Usage (from the repository root):
  python3 e2ebench/run.py --workload spot_daemon|board_hot|doc_daemon \
      --seed N --seconds S --trace 0|1

One run: build the library and the harness from source if the build is
stale, generate the workload's inputs from the seed, run one JVM at
local[nproc] with the session posture graft.Bench ships, check the outputs,
and print two JSON lines: a stamped detail row with every workload-specific
reading, then the contract line {"correct", "attempted", "failed",
"metrics"}. With --trace 1 the metrics are the per-layer ones.

Only the build writes inside the repository, into .bench_build/. After it,
a run writes nothing there: inputs, the JVM's cwd, temp and Spark dirs,
sinks and checkpoints live in one temp root under the system temp dir
(honouring $TMPDIR), removed on exit. What outlives a run -- the traced
run's spans and the last untraced metrics of each workload and seed, for
the tracing overhead -- goes to $TMPDIR/e2ebench/.

board_hot's sf0.02 outputs are checked against the digests committed in
e2ebench/expected/board.json; `--record` (board_hot only) writes the
variant's digests there instead, and only when its warm-up passes the
DuckDB oracle.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
from pathlib import Path

sys.dont_write_bytecode = True  # importing the helpers must not write here
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
STATE = ROOT / ".bench_build" / "e2ebench"  # the build cache only
KEPT = Path(tempfile.gettempdir()) / "e2ebench"  # traces, last metrics
RUN_LIMIT_S = 170  # the whole run, build excluded, must end inside 180 s

sys.path.insert(0, str(HERE))
import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("spot_daemon", "board_hot", "doc_daemon")
JVM_OPTS = [
    # a fixed heap size and young generation keep peak RSS from following
    # G1's heap and eden sizing, which grow on GC timing and otherwise
    # split runs of the same code ~400 MB apart; without pre-touching, only
    # the pages the program's live data and native memory reach are resident
    "-Xss8m", "-Xms3g", "-Xmx3g", "-Xmn512m", "-XX:+UseG1GC", "-XX:-UsePerfData",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [o for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar")
    for o in ("--add-opens", f"{p}=ALL-UNNAMED")]


def fail(msg):
    print(f"e2ebench: {msg}", file=sys.stderr)
    sys.exit(2)


def cpus():
    return len(os.sched_getaffinity(0))


def git_head():
    try:
        return subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                              capture_output=True, text=True, timeout=10,
                              check=True).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return None


def make_inputs(workload, seed, seconds, inp):
    if workload == "spot_daemon":
        gen.spot_inputs(inp, seed, rounds=max(2, seconds // 5 + 1))
    elif workload == "doc_daemon":
        gen.doc_inputs(inp, seed, batches=max(4, seconds))
    else:
        import gen_board
        gen_board.board_inputs(inp, seed)


def cpu_ticks():
    """(steal, total) jiffies of the whole machine, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def run_jvm(classpath, options, workload, seconds, trace, inp, work, out, deadline):
    tmp = work / "tmp"
    for d in (tmp, work / "spark-local", work / "derby"):
        d.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    cmd = [build.java(), f"-Djava.io.tmpdir={tmp}",
           f"-Dderby.system.home={work / 'derby'}", *JVM_OPTS, *options,
           "-cp", classpath, "e2ebench.Main",
           "--workload", workload, "--seconds", str(seconds),
           "--trace", str(trace), "--cpus", str(cpus()),
           "--input", str(inp), "--work", str(work), "--out", str(out)]
    log = work.parent / "jvm.log"
    steal0, total0 = cpu_ticks()
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=lf,
                             stderr=subprocess.STDOUT, start_new_session=True)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:  # also on SIGTERM: the JVM never outlives the run
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if rc != 0 or not out.exists():
        sys.stderr.write(log.read_text()[-6000:])
        fail(f"benchmark JVM ended with {rc}")
    res = json.loads(out.read_text())
    # CPU time the hypervisor gave to other guests while the JVM ran: a
    # run with high steal is slowed by its neighbours, not by the program
    steal1, total1 = cpu_ticks()
    res["detail"]["cpu_steal_share"] = (steal1 - steal0) / max(1, total1 - total0)
    return res


def dump_archive(classpath, options):
    """The build's archive run: one short spot_daemon run whose JVM writes
    the class-data archive at exit."""
    rundir = Path(tempfile.mkdtemp(prefix="e2ebench-build-"))
    try:
        gen.spot_inputs(str(rundir / "in"), 0, rounds=1)
        run_jvm(classpath, options, "spot_daemon", 1, 0, rundir / "in",
                rundir / "work", rundir / "result.json",
                time.monotonic() + RUN_LIMIT_S)
    finally:
        shutil.rmtree(rundir, ignore_errors=True)


def prepare():
    """The build: (classpath, JVM options, source digest)."""
    return build.ensure_built(ROOT, STATE, dump_archive)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="board_hot: write the expected digests of the "
                         "seed's input variant instead of checking them")
    args = ap.parse_args()
    if args.record and args.workload != "board_hot":
        fail("--record applies to board_hot only")
    # a terminated run still stops its JVM and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    classpath, options, source_digest = prepare()
    deadline = time.monotonic() + RUN_LIMIT_S
    board_hot = args.workload == "board_hot"
    rundir = Path(tempfile.mkdtemp(prefix=f"e2ebench-{args.workload}-"))
    inp, work = rundir / "in", rundir / "work"
    try:
        t_inputs = time.monotonic()
        make_inputs(args.workload, args.seed, args.seconds, str(inp))
        inputs_s = time.monotonic() - t_inputs
        res = run_jvm(classpath, options, args.workload, args.seconds,
                      args.trace, inp, work, rundir / "result.json", deadline)
        res["detail"]["inputs_s"] = inputs_s
        if board_hot:
            import gen_board
            import oracle
            oracle.check_board(res, rundir, HERE / "expected" / "board.json",
                               gen_board.board_variant(args.seed), args.record)
    finally:
        shutil.rmtree(rundir, ignore_errors=True)

    stamp = {"workload": args.workload, "seed": args.seed, "cpus": cpus(),
             "sf": gen_board.BOARD_SFS["timed"] if board_hot else None,
             "board_variant": gen_board.board_variant(args.seed) if board_hot else None,
             "trace": bool(args.trace), "git_head": git_head(),
             "source_digest": source_digest, "seconds": args.seconds}
    key = f"{args.workload}-{args.seed}"
    last = KEPT / "last"
    last.mkdir(parents=True, exist_ok=True)
    if args.trace:
        untraced = last / f"{key}.json"
        base = json.loads(untraced.read_text()) if untraced.exists() else None
        if base and base["stamp"]["source_digest"] == source_digest:
            res["detail"]["trace.overhead_s"] = (
                res["metrics"]["trace.op_p50_s"]["value"]
                - base["metrics"]["op_p50_s"]["value"])
        traces = KEPT / "traces"
        traces.mkdir(parents=True, exist_ok=True)
        (traces / f"{key}.json").write_text(json.dumps(
            {"stamp": stamp, "detail": res["detail"], "spans": res["spans"]}))
    else:
        (last / f"{key}.json").write_text(json.dumps(
            {"stamp": stamp, "metrics": res["metrics"]}))

    print(json.dumps({"stamp": stamp, "detail": res["detail"],
                      "failures": res["failures"]}))
    metrics = {}
    for m in wanted:
        got = res["metrics"].get(m["name"])
        if got is None or got["value"] is None:
            fail(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}

    print(json.dumps({"correct": res["failed"] == 0,
                      "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
