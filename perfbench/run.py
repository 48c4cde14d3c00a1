"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload daily_batch --seed 1 --seconds 10 --trace 0

Workloads: ``daily_batch`` and ``stream_ingest`` (see
README.md). Inputs are generated from ``--seed``. One fresh Spark
process runs the workload as a closed loop with one caller. With ``--trace 0`` the line carries the
end-to-end metrics, with ``--trace 1`` the per-layer ones (and the
spans go to stderr as one line at the end). Every output is checked
against DuckDB after the timed phases. Everything the run writes is
under one directory in ``perfbench/``, removed at exit.
"""

from __future__ import annotations

import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import time  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORKLOADS = ("daily_batch", "stream_ingest")
DRIVER_MEM = "4g"
DEADLINE_S = 170


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spawn(run_dir: str, env: dict, extra: list[str], log: str):
    with open(log, "w") as out:
        return time.time(), subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), "--run-dir", run_dir]
            + extra,
            cwd=run_dir,
            env=env,
            stdout=out,
            stderr=subprocess.STDOUT,
            start_new_session=True,
        )


def live_members(pgid: int) -> list[int]:
    """Processes of a process group that have not exited (zombies left
    for an init process to reap do not count)."""
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2 :].split()
        if int(fields[2]) == pgid and fields[0] != "Z":
            pids.append(int(entry))
    return pids


def stop_group(proc) -> None:
    """Kill what is left of a spawned process group (the JVM and its
    Python workers) and wait until every member has ended."""
    if proc.poll() is None:
        proc.kill()
    proc.wait()
    for _ in range(500):
        if not live_members(proc.pid):
            return
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            return
        time.sleep(0.02)
    raise RuntimeError(f"process group {proc.pid} did not end")


def wait_file(path: str, proc, deadline: float) -> float:
    while not os.path.exists(path):
        if proc.poll() is not None:
            raise RuntimeError(f"{path}: process exited with {proc.returncode}")
        if time.time() > deadline:
            raise RuntimeError(f"{path}: timed out")
        time.sleep(0.02)
    with open(path) as f:
        return json.load(f)


def kv_keys(run_dir: str, prefix: str) -> int:
    root = os.path.join(run_dir, "tmp", "fps_kv")
    n = 0
    for store in os.listdir(root) if os.path.isdir(root) else ():
        if store.startswith(prefix):
            for sub in ("lists", "hashes"):
                d = os.path.join(root, store, sub)
                if os.path.isdir(d):
                    n += sum(not f.startswith(".") for f in os.listdir(d))
    return n


def run(args, run_dir: str, procs: list) -> dict:
    sys.path.insert(0, HERE)
    import check
    import inputs

    deadline = time.time() + DEADLINE_S
    rows = inputs.generate_tables(args.seed, os.path.join(run_dir, "tables"))
    with open(os.path.join(run_dir, "rows.json"), "w") as f:
        json.dump(rows, f)

    env = dict(
        os.environ,
        TMPDIR=os.path.join(run_dir, "tmp"),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        PYTHONPYCACHEPREFIX=os.path.join(run_dir, "pycache"),
        # no hsperfdata files under /tmp from the launcher or driver JVM
        JAVA_TOOL_OPTIONS="-XX:-UsePerfData",
        PYTHONPATH=os.pathsep.join(filter(None, [REPO, os.environ.get("PYTHONPATH")])),
    )
    os.makedirs(env["TMPDIR"])
    worker_args = [
        "--workload", args.workload,
        "--seed", str(args.seed),
        "--seconds", str(args.seconds),
        "--trace", str(args.trace),
    ]
    t0, worker = spawn(run_dir, env, worker_args, os.path.join(run_dir, "worker.log"))
    procs.append(worker)
    cold_setup = wait_file(os.path.join(run_dir, "ready.json"), worker, deadline) - t0
    worker.wait(timeout=max(1, deadline - time.time()))
    if worker.returncode != 0:
        with open(os.path.join(run_dir, "worker.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise RuntimeError(f"worker exited with {worker.returncode}")
    with open(os.path.join(run_dir, "result.json")) as f:
        result = json.load(f)

    if args.workload == "stream_ingest":
        problems = check.check_stream(result, run_dir, args.seed)
    else:
        problems = check.check_batch(result, run_dir)
    for p in problems:
        print(f"perfbench: check failed: {p}", file=sys.stderr)

    # the run's timings on stderr in both modes, so that a traced run's
    # overhead can be read against untraced runs
    print(
        f"perfbench: pipeline_s {result['pipeline_s']:.3f} "
        f"refresh_s {result['refresh_s']:.3f} cpu_s {result['cpu_s']:.2f} "
        f"batch_p50_ms {result['batch_p50_ms']:.1f} "
        f"setup_s {cold_setup:.2f} passes "
        + " ".join(f"{w:.2f}" for w in result["pass_walls"]),
        file=sys.stderr,
    )
    if args.trace:
        import layers

        metrics = layers.per_layer(
            result,
            os.path.join(run_dir, "eventlog"),
            kv_keys(run_dir, "" if args.workload == "stream_ingest" else "cold_"),
        )
        units = {n: layers.unit(n) for n in metrics}
        spans = {"workload": args.workload, "seed": args.seed, "spans": result["spans"]}
        print("perfbench spans: " + json.dumps(spans), file=sys.stderr)
    else:
        metrics = {
            "setup_s": cold_setup,
            "pipeline_s": result["pipeline_s"],
            "refresh_s": result["refresh_s"],
            "cpu_s": result["cpu_s"],
            "held_mb": result["held_mb"],
            "events_per_s": result["events_per_s"],
        }
        units = {
            "setup_s": "s",
            "pipeline_s": "s",
            "refresh_s": "s",
            "cpu_s": "s",
            "held_mb": "MB",
            "events_per_s": "1/s",
        }
    return {
        "correct": not problems,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in metrics.items()},
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    for need in ("flink_project_spark", "__spark_entry__.py", "tools/gen_scale_data.py"):
        if not os.path.exists(os.path.join(REPO, need)):
            fail(f"{need} is missing: run from a checkout of the repository")

    # a terminated run still stops its processes and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run_dir = os.path.join(HERE, f".run-{os.getpid()}")
    os.makedirs(run_dir)
    procs: list = []
    try:
        out = run(args, run_dir, procs)
    except (RuntimeError, subprocess.TimeoutExpired) as e:
        fail(str(e))
    finally:
        for p in procs:
            stop_group(p)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
