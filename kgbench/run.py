#!/usr/bin/env python3
"""Benchmark of the document→triples engine, end to end and per layer.

    python3 kgbench/run.py --workload flagship --seed 1 --seconds 10 --trace 0

Run from the repository root. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The line before it carries host-noise context (steal, spin
probe, loadavg) and the warm-up drift of the run; nothing gates on it.
``--smoke`` runs the same code on tiny inputs. See kgbench/NOTES.md.

Each run makes its inputs from the seed under ``.kgbench_work/`` in the
repository and computes the oracle answers, then spawns the measured
driver process (driver.py) fresh; for ``cli_resume`` a separate process
commits the output first. It stops every process it started and removes
its work directory before it exits.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PKG = "ai_knowledge_graph_builder_spark"

RUN_LIMIT_S = 170    # every process of a run ends within this

def child_env(work: Path) -> dict[str, str]:
    """The program's own defaults, with every scratch path inside ``work``
    and one local core per host CPU."""
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(p for p in (str(ROOT), env.get("PYTHONPATH")) if p)
    env.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    env["TMPDIR"] = str(work / "tmp")
    env["SPARK_LOCAL_DIRS"] = str(work / "local")
    env["SPARK_GRAFT_WAREHOUSE"] = str(work / "warehouse")
    env["SPARK_GRAFT_JAVA_OPTS"] = " ".join(
        p for p in (env.get("SPARK_GRAFT_JAVA_OPTS"), f"-Djava.io.tmpdir={work / 'tmp'}",
                    "-XX:-UsePerfData") if p)
    return env


class Runner:
    def __init__(self, work: Path, deadline: float):
        self.work, self.deadline, self.n = work, deadline, 0
        self.env = child_env(work)

    def spawn(self, mode: str, cfg: dict) -> dict:
        """Run driver.py in a fresh process group; wait for every process in
        the group (JVM, Python workers) to end before returning."""
        self.n += 1
        cfg_path, out_path = self.work / f"cfg-{self.n}.json", self.work / f"out-{self.n}.json"
        log_path = self.work / f"{mode}-{self.n}.log"
        cfg_path.write_text(json.dumps(cfg))
        env = dict(self.env, KGBENCH_T0=repr(time.time()))
        with open(log_path, "wb") as log:
            p = subprocess.Popen(
                [sys.executable, str(HERE / "driver.py"), mode, str(cfg_path), str(out_path)],
                cwd=self.work, env=env, stdout=log, stderr=subprocess.STDOUT,
                start_new_session=True)
            try:
                rc = p.wait(timeout=max(1.0, self.deadline - time.time()))
            except subprocess.TimeoutExpired:
                rc = None
            finally:
                stop_group(p, graceful=p.poll() is not None)
        if rc != 0:
            tail = log_path.read_text(errors="replace")[-4000:]
            raise RuntimeError(f"{mode} process {'timed out' if rc is None else f'exited {rc}'}:\n{tail}")
        return json.loads(out_path.read_text())


def stop_group(p: subprocess.Popen, graceful: bool) -> None:
    """Give an exited driver's JVM time to shut down, then signal what is left."""
    from host import group_members

    steps = ((None, 20.0),) if graceful else ()
    for sig, grace in steps + ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        if sig is not None:
            try:
                os.killpg(p.pid, sig)
            except ProcessLookupError:
                pass
        end = time.time() + grace
        while time.time() < end:
            if p.poll() is not None and not group_members(p.pid):
                return
            time.sleep(0.1)


def main() -> int:
    import host
    import workloads

    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, same checks")
    args = ap.parse_args()
    # a run stopped from outside still stops its driver process group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (ROOT / PKG / "__init__.py").is_file():
        print(f"{PKG} not found beside {HERE.name}/", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))

    t_run = time.time()
    work = ROOT / ".kgbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    if work.exists():
        shutil.rmtree(work)
    for d in ("tmp", "local", "warehouse", "eventlog"):
        (work / d).mkdir(parents=True)
    try:
        ctx = {"workload": args.workload, "seed": args.seed,
               "loadavg": [host.loadavg()], "spin_probe_s": [host.spin_probe()]}
        steal0 = host.steal_snapshot()
        cfg = workloads.prepare(args.workload, args.seed, work, args.smoke)
        ctx["prepare_s"] = time.time() - t_run
        cfg.update(seconds=args.seconds, trace=bool(args.trace))
        runner = Runner(work, t_run + RUN_LIMIT_S)
        if args.workload == "cli_resume":
            # a separate process commits every stage; the measured one resumes
            cfg["build_stats"] = runner.spawn("commit", cfg)["stats"]
        res = runner.spawn("run", cfg)
        ctx["steal_fraction"] = host.steal_fraction(steal0, host.steal_snapshot())
        ctx["loadavg"].append(host.loadavg())
        ctx["spin_probe_s"].append(host.spin_probe())
    finally:
        shutil.rmtree(work, ignore_errors=True)

    ops = res["ops"]
    cold = ops[0]
    warm_s = [o["s"] for o in ops if o["phase"] in ("warmup", "measured")]
    measured = [o for o in ops if o["phase"] == "measured"]
    measured = [o["s"] for o in measured if o["ok"]] or [o["s"] for o in measured]
    wall = statistics.median(measured)
    failed = sum(not o["ok"] for o in ops)
    k = max(1, len(warm_s) // 3)
    ctx.update({
        "setup": res["setup"], "peak_rss_mb": res["peak_rss_mb"],
        "cold_s": cold["s"], "warm_op_s": warm_s, "measured_ops": len(measured),
        "check_s": [o.get("check_s") for o in ops],
        "errors": [o["error"] for o in ops if "error" in o],
        "warmup_drift": statistics.median(warm_s[-k:]) / statistics.median(warm_s[:k]),
        "docs": cfg["n_docs"], "run_s": time.time() - t_run,
    })
    if args.trace:
        metrics = dict(res["layers"])
        metrics["session.start_s"] = res["setup"]["start_s"]
        metrics["session.worker_warm_s"] = res["setup"]["worker_warm_s"]
        metrics["trace.overhead_s"] = metrics["trace.wall_s"] - wall
        metrics["process.peak_rss_mb"] = sum(res["peak_rss_mb"].values())
        kind = "per_layer"
    else:
        metrics = {
            "setup_s": res["setup"]["setup_s"],
            "cold_s": cold["s"],
            "wall_s": wall,
            "docs_per_s": cfg["n_docs"] / wall,
            "ok_ratio": (len(ops) - failed) / len(ops),
        }
        kind = "end_to_end"
    # BENCHMARK.json names every metric and its unit
    units = {m["name"]: m["unit"] for m in json.loads((ROOT / "BENCHMARK.json").read_text())[kind]}
    if set(metrics) != set(units):
        raise RuntimeError(f"metric set mismatch: {sorted(set(metrics) ^ set(units))}")
    print(json.dumps({"context": ctx}))
    print(json.dumps({
        "correct": failed == 0, "attempted": len(ops), "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
