"""The measured driver process: one fresh Python process per use.

    python3 driver.py commit <config.json> <result.json>
    python3 driver.py run    <config.json> <result.json>

Both modes first start the program (import, ``get_spark`` with its own
defaults, Python worker warm-up); set-up time is counted from the moment
the parent spawned the process (``KGBENCH_T0``). ``commit`` runs the CLI
once to leave a committed output directory behind. ``run`` repeats the
workload's operation as a closed loop with one client, checking every
output outside the timed window; with ``trace`` set it then adds the
traced operation and the layer passes.
"""

from __future__ import annotations

import contextlib
import json
import os
import sys
import time

T0 = float(os.environ.get("KGBENCH_T0", time.time()))
WARM_DEADLINE_S = 120  # no warm operation starts later than this after spawn


def start_session(event_log_dir: str | None = None) -> tuple[object, dict]:
    t0 = time.perf_counter()
    from ai_knowledge_graph_builder_spark.session import get_spark

    extra = None
    if event_log_dir is not None:
        extra = {"spark.eventLog.enabled": "true",
                 "spark.eventLog.dir": f"file://{event_log_dir}",
                 "spark.eventLog.compress": "false",
                 "spark.eventLog.rolling.enabled": "false"}
    spark = get_spark(extra_conf=extra)
    t1 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    # one Arrow task per core brings up the whole Python worker pool
    n = spark.sparkContext.defaultParallelism
    spark.range(0, n, 1, n).mapInPandas(lambda it: it, "id long").collect()
    t2 = time.perf_counter()
    return spark, {"setup_s": time.time() - T0, "start_s": t1 - t0, "worker_warm_s": t2 - t1}


def main(argv: list[str]) -> int:
    mode, cfg_path, out_path = argv
    with open(cfg_path) as f:
        cfg = json.load(f)
    trace = mode == "run" and cfg["trace"]
    event_log_dir = os.path.join(cfg["work"], "eventlog")
    spark, setup = start_session(event_log_dir if trace else None)
    from workloads import Workload

    wl = Workload(spark, cfg)
    if mode == "commit":
        result = {"stats": wl.run_cli(wl.output_dir(0))}
    else:
        result = {"setup": setup, **measure(spark, wl, cfg, trace)}
    spark.stop()
    if trace:
        from pathlib import Path

        from tracing import read_event_log

        ev = read_event_log(Path(event_log_dir))
        result["layers"].update(event_log_metrics(ev, result.pop("groups")))
    with open(out_path, "w") as f:
        json.dump(result, f)
    return 0


def measure(spark, wl, cfg: dict, trace: bool) -> dict:
    """The cold operation, ``warmup_ops`` warm-up operations, then measured
    operations until ``seconds`` of them are timed (at least one); traced,
    one more operation."""
    import traceback

    from host import tree_peak_rss_mb

    ops: list[dict] = []

    def one(phase: str, span, tracer=None, keep: bool = False) -> dict:
        i = len(ops)
        spark.catalog.clearCache()
        rec = {"i": i, "phase": phase, "ok": False}
        t0 = time.perf_counter()
        try:
            if tracer is None:
                res = wl.op(i, span)
            else:
                with tracer.span("op") as root:
                    rec["root"] = root["id"]
                    res = wl.op(i, span)
            rec["s"] = time.perf_counter() - t0
            wl.check(i, res)
            rec["ok"] = True
            rec["check_s"] = time.perf_counter() - t0 - rec["s"]
        except Exception as e:  # an operation that fails counts against ok_ratio
            rec.setdefault("s", time.perf_counter() - t0)
            rec["error"] = f"{type(e).__name__}: {e}"[:2000]
            traceback.print_exc()
        ops.append(rec)
        if not keep:
            wl.cleanup(i)
        return rec

    nospan = lambda name: contextlib.nullcontext()  # noqa: E731
    one("cold", nospan)
    deadline = T0 + WARM_DEADLINE_S
    for _ in range(cfg["warmup_ops"]):
        if time.time() < deadline:
            one("warmup", nospan)
    measured_s = one("measured", nospan)["s"]
    while measured_s < cfg["seconds"] and time.time() < deadline:
        measured_s += one("measured", nospan)["s"]
    out = {"ops": ops, "peak_rss_mb": tree_peak_rss_mb(os.getpid())}
    if trace:
        out.update(traced(spark, wl, cfg, one))
    return out


def traced(spark, wl, cfg, one) -> dict:
    from tracing import Tracer, isolate, job_counts, kernels
    from workloads import STAGES

    sc = spark.sparkContext
    tracer = Tracer(sc)
    tracer.install()
    try:
        t_start = time.time()
        rec = one("traced", tracer.span, tracer, keep=True)
        i = rec["i"]
    finally:
        tracer.uninstall()
    root = rec["root"]
    spans = tracer.subtree(root)
    by = lambda name: [s for s in spans if s["name"] == name]  # noqa: E731
    dur = lambda ss: sum(s["end"] - s["start"] for s in ss)  # noqa: E731
    groups = [s["group"] for s in spans]
    counts = job_counts(sc, groups)
    selfs = tracer.self_times(root)
    wall = spans[0]["end"] - spans[0]["start"]
    m: dict[str, float] = {f"self.{k}_s": v for k, v in selfs.items() if k != "gap"}
    cli = wl.name.startswith("cli")
    main_span, pipe_span = by("cli.main"), by("plans.run_kg_pipeline_checkpointed")
    writes = by("checkpoint.write_stage")
    m.update({
        "trace.wall_s": wall,
        "trace.gap_s": selfs["gap"],
        "linking.build_s": dur(by("linking.resolve_mentions")),
        "linking.build_jobs": job_counts(sc, [s["group"] for s in by("linking.resolve_mentions")])["jobs"],
        "checkpoint.write_s": dur(writes),
        "checkpoint.lineage_s": dur(by("checkpoint.compute_lineage")),
        "checkpoint.resume_s": dur([s for s in by("checkpoint.run_stage") if s.get("resumed")]),
        "cli.fingerprint_s": dur(by("cli.fingerprint")),
        "cli.table_count_s": (main_span[0]["end"] - pipe_span[0]["end"]) if main_span and pipe_span else 0.0,
        "cli.jobs": counts["jobs"] if cli else 0,
        "spark.jobs": counts["jobs"],
        "spark.stages": counts["stages"],
        "spark.tasks": counts["tasks"],
    })
    for stage in STAGES:
        m[f"checkpoint.{stage}.write_s"] = dur([s for s in writes if s.get("stage") == stage])
    files = nbytes = 0
    out_dir = wl.output_dir(i)
    if cli and out_dir.exists():
        for p in out_dir.rglob("*"):
            st = p.stat()
            if p.is_file() and st.st_mtime >= t_start:
                files, nbytes = files + 1, nbytes + st.st_size
    wl.cleanup(i)
    m["checkpoint.files_written"], m["checkpoint.bytes_written"] = files, nbytes

    iso, alias_list = isolate(spark, wl)
    m.update(iso)
    m.update(kernels(wl, alias_list))
    # Python-side kernel seconds of the mention pass spread over the cores;
    # the rest of the pass is the Arrow boundary, scheduling and the JVM
    per_doc = m["functions.ner_us_per_doc"]
    if wl.name == "flagship":
        per_doc += m["functions.extract_text_us_per_doc"]
    kernel_s = per_doc * cfg["n_docs"] / 1e6 / sc.defaultParallelism
    m["mentions.boundary_share"] = 1.0 - kernel_s / m["mentions.run_s"]
    return {"layers": m, "groups": {"op": groups}}


def event_log_metrics(ev: dict, groups: dict) -> dict:
    from tracing import sum_groups

    op = sum_groups(ev, groups["op"])
    mentions = sum_groups(ev, ["kgb-iso-mentions"])
    return {
        "spark.shuffle_bytes": op["shuffle_bytes"],
        "spark.gc_s": op["gc_s"],
        "mentions.py_bytes_sent": mentions["py_sent"],
        "mentions.py_bytes_received": mentions["py_received"],
        "linking.shuffle_bytes": sum_groups(ev, ["kgb-iso-linking"])["shuffle_bytes"],
    }


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
