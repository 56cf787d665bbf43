"""Standing benchmark of the spark-graft query engine.

    python3 perfbench/run.py --workload catalog --seed 1 --seconds 1 --trace 0

Runs one workload (see worker.py and perfbench/README.md) in a fresh
Spark driver process on ``local[nproc]`` and relays its output: a full
JSON record line, then, as the last line, ``{"correct", "attempted",
"failed", "metrics"}`` with the end-to-end metrics (``--trace 0``) or the
per-layer metrics (``--trace 1``).

Works from any directory: it finds the repository as its own parent
directory, puts it on the Python path of the driver and of Spark's
Python workers, and keeps everything it writes (generated tables,
oracle verdicts, Spark local dirs, warehouse, temp files) under
``.perfbench/`` in the repository root, removing the per-run part on
exit. Exits non-zero without a result when the engine sources are
missing, the run fails or it overruns its time limit.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
# On 4 cores a measured run ends in about a minute and the one-off
# oracle check of every pool query in about two.
RUN_LIMIT_S = 170
VERIFY_LIMIT_S = 600


def source_key(data_dir: str) -> str:
    """Identifies the engine sources plus the dataset: oracle verdicts are
    reused only while neither changes."""
    h = hashlib.sha256(os.path.basename(data_dir).encode())
    files = [os.path.join(ROOT, "__spark_entry__.py")]
    for base, dirs, names in os.walk(os.path.join(ROOT, "pipelinejobs_indexer_spark")):
        dirs.sort()
        files += [os.path.join(base, n) for n in sorted(names) if not n.endswith(".pyc")]
    for path in files:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def session_pids(sid: int) -> list[int]:
    """Live (non-zombie) processes of session *sid*. Spark's Python daemon
    moves to its own process group, so the session is what contains all
    of the worker's descendants."""
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid and fields[0] != "Z":
            pids.append(int(entry))
    return pids


def stop_session(proc: subprocess.Popen) -> None:
    """Stop every process of the worker's session (the worker, its JVM and
    Spark's Python workers) and wait until none is left."""
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        for pid in session_pids(proc.pid) if sig else ():
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + 10
        while time.monotonic() < deadline:
            proc.poll()
            if not session_pids(proc.pid):
                proc.wait()
                return
            if sig is None and proc.returncode is None:
                break  # the worker itself overran: signal it at once
            time.sleep(0.1)
    proc.wait()


def spawn(cmd: list[str], env: dict, cwd: str, limit: float) -> bytes | None:
    """Run one worker to completion; its stdout, or None when it failed or
    overran *limit* seconds. Every process it started is gone on return."""
    env = dict(env, PERFBENCH_SPAWN_T=repr(time.time()))
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=limit)
    except subprocess.TimeoutExpired:
        print(f"perfbench: worker exceeded {limit}s", file=sys.stderr)
        return None
    finally:
        stop_session(proc)
    if proc.returncode != 0:
        sys.stderr.write(out.decode())
        print(f"perfbench: worker exited with {proc.returncode}", file=sys.stderr)
        return None
    return out


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=0.1, help="scale factor of the generated tables")
    p.add_argument("--queries", default="", help="comma-separated queries replacing the pool")
    p.add_argument(
        "--plant-mismatch",
        action="store_true",
        help="corrupt one reference fingerprint (self-test of the output check)",
    )
    args = p.parse_args()

    for need in ("__spark_entry__.py", "pipelinejobs_indexer_spark", "tests/parity.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}", file=sys.stderr)
            return 2
    sys.path.insert(0, HERE)
    import datagen
    from worker import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    os.makedirs(WORK, exist_ok=True)
    data_dir = datagen.ensure(os.path.join(WORK, "data"), args.sf)
    os.makedirs(os.path.join(WORK, "oracle"), exist_ok=True)
    verdict_path = os.path.join(WORK, "oracle", f"{source_key(data_dir)}.json")
    tmp_root = os.path.join(WORK, "tmp")
    os.makedirs(tmp_root, exist_ok=True)
    for stale in os.listdir(tmp_root):
        # left by a launcher that was killed outright
        if not os.path.exists(f"/proc/{stale.removeprefix('run-')}"):
            shutil.rmtree(os.path.join(tmp_root, stale), ignore_errors=True)
    tmp = os.path.join(tmp_root, f"run-{os.getpid()}")
    for sub in ("local", "warehouse", "jvm"):
        os.makedirs(os.path.join(tmp, sub), exist_ok=True)

    cores = len(os.sched_getaffinity(0))
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, HERE, env.get("PYTHONPATH")])),
        SPARK_GRAFT_CPUS=str(cores),
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(tmp, "local"),
        PERFBENCH_ROOT=ROOT,
        PYSPARK_SUBMIT_ARGS=" ".join(
            [
                f"--conf spark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
                f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={os.path.join(tmp, 'jvm')}",
                "pyspark-shell",
            ]
        ),
    )
    base = [sys.executable, os.path.join(HERE, "worker.py"), "--workload", args.workload]
    base += ["--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
    base += ["--sf-dir", data_dir, "--sf", str(args.sf), "--oracle-cache", verdict_path]

    # The first run of a checkout checks every pool query against its
    # oracle in a separate, unmeasured worker; later runs reuse verdicts.
    wanted = args.queries.split(",") if args.queries else [
        q for pool in WORKLOADS.values() for q in pool
    ]
    verdicts = {}
    if os.path.exists(verdict_path):
        with open(verdict_path) as fh:
            verdicts = json.load(fh)
    missing = [q for q in wanted if q not in verdicts]
    # a terminated launcher still stops the run and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        if missing:
            verify_cmd = base + ["--queries", ",".join(missing), "--verify"]
            if spawn(verify_cmd, env, tmp, VERIFY_LIMIT_S) is None:
                return 1
        cmd = base + ["--queries", args.queries]
        if args.plant_mismatch:
            cmd.append("--plant-mismatch")
        out = spawn(cmd, env, tmp, RUN_LIMIT_S)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if out is None:
        return 1
    sys.stdout.write(out.decode())
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
