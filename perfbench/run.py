"""The repository benchmark: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It generates the workload's transcript
tables from the seed (gen.py), runs the workload against the package's
public functions in worker processes at local[<cores>] (worker.py),
checks the written outputs against the DuckDB oracle outside the timed
region (check.py), and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are the per-layer metrics of layers.json, from a run
whose spans attribute engine counters to each layer. `attempted` counts
operations (timed jobs, day groups, micro-batches) and `failed` those
that raised or whose output the oracle rejected, so failed / attempted
is the failed ratio. Everything is written under .perfbench_work/ in
the current directory and removed at exit; when a run fails, the worker
logs are copied to stderr first. Exits non-zero without a
result line when the package cannot be imported.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)

DAY = 86400
# Input sizes, in events of the test data's shape (gen.py); where each
# number comes from is recorded in README.md.
WORKLOADS = {
    "batch_flagship": {"events": 50_000, "files": 8, "span_s": 30 * DAY, "hot_factor": 8},
    "fanout_resume": {"events": 20_000, "files": 4, "span_s": 3 * DAY},
}
# The streaming tail that traced batch_flagship runs add: an open loop
# landing one file every interval_s after warm_files warm-up files.
STREAM = {"rows_per_file": 500, "interval_s": 1.5, "warm_files": 3, "files": 8, "ooo_share": 0.05, "late_share": 0.02}
E2E = [
    ("turns_per_s", "1/s"),
    ("peak_rss_mb", "MB"),
    ("setup_s", "s"),
]
# a run must end within 180 s; the oracle checks after the workers take a few
WORKER_TIMEOUT_S = 165


def log(msg: str, t0: float) -> None:
    print(f"perfbench: {time.time() - t0:6.1f}s {msg}", file=sys.stderr, flush=True)


def per_layer_metrics() -> list[tuple[str, str]]:
    with open(os.path.join(HERE, "layers.json")) as f:
        layers = json.load(f)
    return [(m["name"], m["unit"]) for layer in layers for m in layer["metrics"]]


def write_split(table, path: str, files: int) -> None:
    """The table as `files` parquet files under directory `path`."""
    import gen

    per = -(-table.num_rows // files)
    for i in range(files):
        gen.write_table(table.slice(i * per, per), os.path.join(path, f"part-{i:03d}.parquet"), row_groups=4)


def generate_stream(seed: int, data: str, scale: float) -> dict:
    """Pre-written stream files (event-time order, out-of-order and late
    rows) and the keys of the late rows."""
    import gen
    import pyarrow.parquet as pq

    cfg = STREAM
    rows_per_file = max(50, int(cfg["rows_per_file"] * scale))
    files, late = gen.stream_files(
        seed, cfg["warm_files"] + cfg["files"], rows_per_file, cfg["ooo_share"], cfg["late_share"],
        os.path.join(data, "stage"),
    )
    # strictly increasing mtimes: the file source orders new files by them
    now = time.time() - len(files)
    for i, p in enumerate(files):
        os.utime(p, (now + i, now + i))
    late_path = os.path.join(data, "late.parquet")
    pq.write_table(late, late_path)
    return {
        "stream_files": files,
        "late": late_path,
        "late_rows": late.num_rows,
        "stream_interval_s": cfg["interval_s"],
        "stream_warm_files": cfg["warm_files"],
    }


def generate(workload: str, seed: int, work: str, scale: float, trace: bool) -> dict:
    """Write the workload's inputs; returns the spec the worker reads."""
    import gen

    cfg = dict(WORKLOADS[workload])
    spec: dict = {"workload": workload, "seed": seed}
    data = os.path.join(work, "data")
    n = max(400, int(cfg["events"] * scale))
    hot = cfg.get("hot_factor", 0)
    table = gen.transcripts(seed, n, cfg["span_s"], hot)
    write_split(table, os.path.join(data, "main"), cfg["files"])
    spec.update(table=os.path.join(data, "main"), rows=table.num_rows)
    if workload == "batch_flagship":
        quarter = gen.transcripts(seed + 7919, n // 4, cfg["span_s"], hot)
        write_split(quarter, os.path.join(data, "quarter"), max(1, cfg["files"] // 4))
        spec.update(table_quarter=os.path.join(data, "quarter"), rows_quarter=quarter.num_rows)
        if trace:
            spec.update(generate_stream(seed, data, scale))
    return spec


class Workers:
    """Worker processes, each in a process group of its own so that a
    kill takes its JVM down with it."""

    def __init__(self, spec_path: str, work: str):
        self.spec_path = spec_path
        self.work = work
        self.procs: dict[str, subprocess.Popen] = {}
        self.env = dict(os.environ)
        self.env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
        self.env["PYTHONDONTWRITEBYTECODE"] = "1"

    def start(self, role: str) -> subprocess.Popen:
        log = open(os.path.join(self.work, f"{role}.log"), "w")
        cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--spec", self.spec_path, "--role", role]
        p = subprocess.Popen(
            cmd + ["--spawned-at", repr(time.time())],
            stdout=log,
            stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL,
            start_new_session=True,
            env=self.env,
        )
        log.close()
        self.procs[role] = p
        return p

    def wait_result(self, role: str, deadline: float) -> dict | None:
        """The role's result once written; the worker may still be
        shutting its session down, which stop_all() waits for."""
        p = self.procs[role]
        while read_result(self.work, role) is None:
            if p.poll() is not None or time.time() > deadline:
                break
            time.sleep(0.05)
        return read_result(self.work, role)

    def wait(self, role: str, deadline: float) -> bool:
        p = self.procs[role]
        try:
            p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            self.kill(role)
            return False
        self._reap_group(p.pid)
        return p.returncode == 0

    def kill(self, role: str) -> None:
        p = self.procs[role]
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
        self._reap_group(p.pid)

    @staticmethod
    def _reap_group(pgid: int, timeout: float = 20.0) -> None:
        """Wait until no process of the group is left (the JVM exits
        when its driver's pipe closes); SIGKILL what outlives `timeout`."""
        end = time.time() + timeout
        while True:
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return
            if time.time() > end:
                try:
                    os.killpg(pgid, signal.SIGKILL)
                except ProcessLookupError:
                    return
                end = time.time() + timeout
            time.sleep(0.05)

    def dump_logs(self) -> None:
        """Copy every worker's log to stderr (the work directory is
        removed at exit)."""
        for role in self.procs:
            path = os.path.join(self.work, f"{role}.log")
            if os.path.exists(path):
                with open(path) as f:
                    sys.stderr.write(f"--- {role} log ---\n{f.read()}")

    def stop_all(self) -> None:
        for role, p in self.procs.items():
            if p.poll() is None:
                self.kill(role)
            else:
                self._reap_group(p.pid)


def read_result(work: str, role: str) -> dict | None:
    path = os.path.join(work, f"result-{role}.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def manifest_state(ckpt: str) -> tuple[set[str], list[str]]:
    """(keys marked done, keys in the order they were started)."""
    done, started = set(), []
    for path in sorted(glob.glob(os.path.join(ckpt, "manifest", "*.json"))):
        try:
            with open(path) as f:
                e = json.load(f)
        except (OSError, ValueError):
            continue
        if e["status"] == "done":
            done.add(e["key"])
        elif e["status"] == "started":
            started.append(e["key"])
    return done, started


def run_fanout(workers: Workers, work: str, deadline: float, resume: bool) -> tuple[dict | None, dict]:
    """The uninterrupted run; with `resume`, then a delivery SIGKILLed
    once half its groups are done and one group is half-written, and a
    resume of it in a fresh process."""
    info: dict = {}
    main = workers.start("fanout_main")
    res = workers.wait_result("fanout_main", deadline)
    if not resume or res is None:
        return res, info
    groups = res["counts"].get("checkpoint.groups", 0)
    half = groups // 2
    workers.start("fanout_resume")  # its set-up overlaps the killed delivery
    out = os.path.join(work, "out", "killed")
    while time.time() < deadline and main.poll() is None:
        done, started = manifest_state(os.path.join(out, "ckpt"))
        if len(done) >= half:
            pending = [k for k in started if k not in done]
            # kill once the next group has begun writing its output
            if pending and glob.glob(os.path.join(out, "data", f"day={pending[-1]}", "*")):
                break
        time.sleep(0.005)
    workers.kill("fanout_main")
    done, _ = manifest_state(os.path.join(out, "ckpt"))
    info["done_at_kill"] = len(done)
    info["groups"] = groups
    while not os.path.exists(os.path.join(work, "resume.ready")):
        if workers.procs["fanout_resume"].poll() is not None or time.time() > deadline:
            break
        time.sleep(0.01)
    open(os.path.join(work, "resume.go"), "w").close()
    workers.wait("fanout_resume", deadline)
    info["resume"] = read_result(work, "fanout_resume")
    return res, info


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="input size factor (the self-test uses a small one)")
    ap.add_argument("--corrupt-sink", action="store_true", help="damage one written sink file before the checks")
    args = ap.parse_args(argv)

    try:
        import check
        import gen  # noqa: F401
        import worker  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program under test: {e}", file=sys.stderr)
        return 2

    t_start = time.time()
    deadline = t_start + WORKER_TIMEOUT_S
    work = os.path.join(os.getcwd(), ".perfbench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    os.makedirs(work)
    workers = None
    try:
        spec = generate(args.workload, args.seed, work, args.scale, bool(args.trace))
        log("inputs generated", t_start)
        spec.update(
            work=work,
            seconds=args.seconds,
            trace=bool(args.trace),
            cores=len(os.sched_getaffinity(0)),
            deadline=deadline,
        )
        os.makedirs(os.path.join(work, "out"), exist_ok=True)
        spec_path = os.path.join(work, "spec.json")
        with open(spec_path, "w") as f:
            json.dump(spec, f)
        workers = Workers(spec_path, work)

        if args.workload == "fanout_resume":
            res, info = run_fanout(workers, work, deadline, resume=bool(args.trace))
        else:
            workers.start(args.workload)
            res, info = workers.wait_result(args.workload, deadline), {}
        log("workers done", t_start)

        if res is None:
            print("perfbench: worker produced no result", file=sys.stderr)
            workers.dump_logs()
            return 1
        attempted, failed = res["attempted"], res["failed"]
        metrics, counts = dict(res["metrics"]), dict(res["counts"])
        metrics["setup_s"], metrics["peak_rss_mb"] = res["setup_s"], res["peak_rss_mb"]
        errors = list(res.get("errors", []))
        if res.get("skipped"):
            log(f"traced sections skipped, too little time left: {', '.join(res['skipped'])}", t_start)

        if args.corrupt_sink:
            corrupt(work, args.workload)
        oracle = check.Oracle()
        try:
            ok, resume_ok = checks(oracle, args.workload, spec, work, info, counts, set(res.get("skipped", [])))
        except Exception as e:  # a check that cannot run is a failed check
            ok, resume_ok = False, False
            errors.append(f"check: {type(e).__name__}: {e}")
        finally:
            oracle.close()
        ops = res.get("samples", 0) if args.workload != "fanout_resume" else counts.get("checkpoint.groups", 0)
        if not ok:
            failed += max(1, ops)
            errors.append("oracle mismatch")
        if args.workload == "fanout_resume" and args.trace:
            resume = info.get("resume") or {"attempted": 1, "failed": 1, "metrics": {}, "counts": {}}
            attempted += resume["attempted"]
            failed += resume["failed"]
            metrics.update(resume["metrics"])
            counts.update(resume["counts"])
            if not resume_ok:
                failed += max(1, resume["attempted"])
                errors.append("resumed output or redone-group count mismatch")
        workers.stop_all()
        log("outputs checked", t_start)
        if errors:
            print("perfbench: " + " | ".join(errors), file=sys.stderr)
            workers.dump_logs()

        values = {**counts, **metrics}
        values["failed_ratio"] = failed / max(1, attempted)
        names = E2E if not args.trace else per_layer_metrics()
        out = {
            "correct": failed == 0,
            "attempted": max(1, attempted),
            "failed": failed,
            "metrics": {n: {"value": values.get(n, 0), "unit": u} for n, u in names},
        }
        print(json.dumps(out))
        return 0
    finally:
        if workers is not None:
            workers.stop_all()
        shutil.rmtree(work, ignore_errors=True)


def checks(
    oracle, workload: str, spec: dict, work: str, info: dict, counts: dict, skipped: set[str]
) -> tuple[bool, bool]:
    """(main output correct, resumed output correct); the outputs of
    the traced sections the worker `skipped` are not checked."""
    out = os.path.join(work, "out")
    # the scan and the package's own input counter must see every row
    counters = ("transcripts.rows", "metrics.records_in")
    rows_ok = all(k in counts for k in counters) if spec["trace"] else True
    rows_ok = rows_ok and all(counts[k] == spec["rows"] for k in counters if k in counts)
    if workload == "batch_flagship":
        files = sorted(glob.glob(os.path.join(spec["table"], "*.parquet")))
        ok = rows_ok and oracle.flowcounter(os.path.join(out, "flow"), files)
        if spec["trace"] and "single_core" not in skipped:
            q_files = sorted(glob.glob(os.path.join(spec["table_quarter"], "*.parquet")))
            ok = ok and oracle.flowcounter(os.path.join(out, "flow_quarter"), q_files)
        if spec["trace"] and "conv_skew" not in skipped:
            ok = ok and oracle.conv_skew(out, files)
        if spec["trace"] and "stream_tail" not in skipped:
            # the stream files were renamed into the watched directory
            landed = [os.path.join(work, "watch", os.path.basename(p)) for p in spec["stream_files"]]
            ok = ok and oracle.stream_windows(os.path.join(out, "stream_windows.parquet"), landed, spec["late"])
            ok = ok and counts.get("streaming.late_dropped") == spec["late_rows"]
        return ok, True
    files = sorted(glob.glob(os.path.join(spec["table"], "*.parquet")))
    ok = rows_ok and oracle.fanout(os.path.join(out, "full"), files)
    resume = info.get("resume")
    resume_ok = not info or (
        resume is not None
        and oracle.fanout(os.path.join(out, "killed"), files)
        and resume["counts"].get("checkpoint.groups_redone") == info["groups"] - info["done_at_kill"]
    )
    return ok, resume_ok


def corrupt(work: str, workload: str) -> None:
    """Drop one written output file, as a lost or truncated write would."""
    pattern = {
        "batch_flagship": "out/flow/*.parquet",
        "fanout_resume": "out/full/data/day=*/sink_all/part-*.parquet",
    }[workload]
    # the largest file: a part file can be empty
    os.remove(max(glob.glob(os.path.join(work, pattern)), key=os.path.getsize))


if __name__ == "__main__":
    raise SystemExit(main())
