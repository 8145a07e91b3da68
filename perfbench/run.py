"""Benchmark entry point: one measured run of one workload.

    python3 perfbench/run.py --workload search_topk --seed 1 --seconds 8 --trace 0

Run from the root of a checkout of the repository. The run happens in a
fresh child process (``workload.py``) with its environment set here:
``PYTHONPATH`` (the Spark Python workers import the engine from it),
``SPARK_LOCAL_DIRS``, ``TMPDIR`` and ``SPARK_DRIVER_MEM``, all pointing
inside ``.perfbench_tmp/`` of the checkout, which is deleted afterwards.
This process samples the memory of the child's whole process tree
(Python driver, JVM, Python workers), stops every process of the tree
when the child ends, and prints one JSON object as the last line:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. It exits 1 when a correctness check failed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("search_topk", "search_filtered")
CHILD_TIMEOUT_S = 170
DRIVER_MEM = "1g"


def _cpu_ticks() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def _ambient() -> dict:
    """Host noise at the start of the run: steal% over 1 s and fault-in
    MB/s, the probe of the engine's ``bench.ambient_sample``."""
    try:
        import bench
    except ImportError:
        return {}
    return bench.ambient_sample()


class TreeSampler:
    """Peak memory of a process and all its descendants, sampled every
    250 ms from /proc, as the sum of proportional set sizes (PSS): pages
    shared between processes, such as a JVM and a child it has forked but
    not yet exec'd, or Python workers forked from one daemon, count once.
    Pids listed in ``exclude_file`` (the benchmark's own helper process)
    and their descendants are left out. Remembers every pid it saw, so
    the tree can be stopped even after the root exits."""

    def __init__(self, root_pid: int, exclude_file: str):
        self.root = root_pid
        self.exclude_file = exclude_file
        self.peak_kb = 0
        self.peak_parts: dict = {}
        self.seen: dict[int, str] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def _stat(pid: int):
        """(ppid, start time) of a live process, or None."""
        try:
            with open(f"/proc/{pid}/stat") as fh:
                raw = fh.read()
        except OSError:
            return None
        fields = raw[raw.rindex(")") + 2 :].split()
        if fields[0] in "ZX":  # exited, waiting to be reaped
            return None
        return int(fields[1]), fields[19]

    @staticmethod
    def _pss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        return int(line.split()[1])
        except (OSError, ValueError):
            pass
        return 0

    @staticmethod
    def _parts(pss: dict[int, int]) -> dict:
        """Process count and MB by command name, for the report."""
        parts: dict = {}
        for pid, kb in pss.items():
            try:
                with open(f"/proc/{pid}/comm") as fh:
                    name = fh.read().strip()
            except OSError:
                name = "?"
            n, mb = parts.get(name, (0, 0.0))
            parts[name] = (n + 1, round(mb + kb / 1024, 1))
        return parts

    def _excluded(self) -> set[int]:
        try:
            with open(self.exclude_file) as fh:
                return {int(x) for x in fh.read().split()}
        except (OSError, ValueError):
            return set()

    def _loop(self) -> None:
        while not self._stop.is_set():
            stats = {}
            for name in os.listdir("/proc"):
                if name.isdigit():
                    st = self._stat(int(name))
                    if st is not None:
                        stats[int(name)] = st
            kids: dict[int, list[int]] = {}
            for pid, (ppid, _) in stats.items():
                kids.setdefault(ppid, []).append(pid)
            excluded = self._excluded()
            tree, frontier = set(), [self.root]
            while frontier:
                pid = frontier.pop()
                if pid in stats and pid not in tree:
                    tree.add(pid)
                    frontier.extend(kids.get(pid, []))
            for pid in tree:
                self.seen.setdefault(pid, stats[pid][1])
            counted, frontier = set(tree), list(excluded & tree)
            while frontier:
                pid = frontier.pop()
                if pid in counted:
                    counted.discard(pid)
                    frontier.extend(kids.get(pid, []))
            pss = {p: self._pss_kb(p) for p in counted}
            if sum(pss.values()) > self.peak_kb:
                self.peak_kb = sum(pss.values())
                self.peak_parts = self._parts(pss)
            self._stop.wait(0.25)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()

    def alive(self) -> list[int]:
        """Pids seen in the tree that still run (same start time)."""
        out = []
        for pid, start in self.seen.items():
            st = self._stat(pid)
            if st is not None and st[1] == start:
                out.append(pid)
        return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its process tree (the finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    repo = os.getcwd()
    if not os.path.isfile(os.path.join(repo, "quickwit_spark", "__init__.py")):
        print(
            "perfbench: run from the repository root; quickwit_spark/ is missing",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, repo)

    tmp = os.path.join(repo, ".perfbench_tmp", f"{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "spark-local"))
    result_path = os.path.join(tmp, "result.json")
    env = dict(os.environ)
    cpus = str(len(os.sched_getaffinity(0)))
    env.update(
        PYTHONPATH=os.pathsep.join([repo, HERE]),
        SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"),
        TMPDIR=tmp,
        SPARK_DRIVER_MEM=DRIVER_MEM,
        SPARK_GRAFT_CPUS=cpus,
        PERFBENCH_T0=repr(time.time()),
        PYTHONHASHSEED="0",
    )
    env.pop("OMP_NUM_THREADS", None)
    with open(os.path.join(repo, "BENCHMARK.json")) as fh:
        declared = json.load(fh)
    out_dir = os.path.join(repo, ".perfbench_out")
    trace_out = os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json")
    if args.trace:
        os.makedirs(out_dir, exist_ok=True)
    cmd = [
        sys.executable, os.path.join(HERE, "workload.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--tmp", tmp, "--result", result_path, "--trace-out", trace_out,
    ]
    log_path = os.path.join(tmp, "child.log")
    ticks0 = _cpu_ticks()
    try:
        with open(log_path, "wb") as log:
            child = subprocess.Popen(
                cmd, cwd=repo, env=env, stdout=log, stderr=subprocess.STDOUT,
                start_new_session=True,
            )
            sampler = TreeSampler(child.pid, os.path.join(tmp, "exclude.pids"))
            sampler.start()
            ambient_before: dict = {}
            probe = threading.Thread(target=lambda: ambient_before.update(_ambient()))
            probe.start()
            try:
                code = child.wait(timeout=CHILD_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                code = None
            finally:
                probe.join()
                sampler.stop()
                _stop_tree(child, sampler)
        if code != 0 or not os.path.exists(result_path):
            with open(log_path, "rb") as fh:
                tail = fh.read()[-6000:].decode(errors="replace")
            print(tail, file=sys.stderr)
            print(f"perfbench: workload process ended with {code}", file=sys.stderr)
            return 3
        with open(result_path) as fh:
            res = json.load(fh)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass

    res["report"]["ambient_before"] = ambient_before
    # hypervisor steal over the whole run, to tell a disturbed run apart
    d = [b - a for a, b in zip(ticks0, _cpu_ticks())]
    res["report"]["steal_pct_run"] = round(100.0 * d[7] / max(sum(d), 1), 2)
    res["metrics"]["peak_rss_mb"] = [sampler.peak_kb / 1024, "MB"]
    res["report"]["peak_rss_parts"] = sampler.peak_parts
    if args.trace:
        # the full per-layer set goes into the trace file; the result line
        # carries the metrics BENCHMARK.json declares
        with open(trace_out) as fh:
            trace = json.load(fh)
        trace.update(layers=res["layers"], report=res["report"])
        with open(trace_out, "w") as fh:
            json.dump(trace, fh)
        chosen = {m["name"]: res["layers"].get(m["name"]) for m in declared["per_layer"]}
    else:
        chosen = {m["name"]: res["metrics"].get(m["name"]) for m in declared["end_to_end"]}
    print(json.dumps({k: res[k] for k in ("failures", "report")}, default=str))
    missing = sorted(k for k, v in chosen.items() if v is None)
    if missing:
        print(f"perfbench: the run did not measure {missing}", file=sys.stderr)
        return 4
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()}
    print(json.dumps({
        "correct": res["correct"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0 if res["correct"] else 1


def _stop_tree(child, sampler) -> None:
    """Kill what is left of the child's process tree (the JVM and Python
    workers outlive the driver process by seconds of shutdown hooks whose
    work the deleted run directory makes moot) and wait until every
    process has ended."""
    try:
        os.killpg(child.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    deadline = time.time() + 30
    while time.time() < deadline:
        left = sampler.alive()
        if not left:
            break
        for pid in left:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.05)
    child.wait()


if __name__ == "__main__":
    sys.exit(main())
