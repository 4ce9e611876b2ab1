"""The traced run: spans around the program's public functions, Spark job
attribution, the layer-isolation pass, single-thread kernel timings and
the event-log reader.

Everything here lives in the benchmark. The program is traced by wrapping
the module attributes through which it calls its own public functions; it
carries no tracing code of its own.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import importlib
import json
import statistics
import sys
import time
from pathlib import Path

PKG = "ai_knowledge_graph_builder_spark"

# span name → (module, attribute). The part of the name before the first
# dot is the layer the span's self time is charged to.
TARGETS = {
    "cli.main": ("__main__", "main"),
    "cli.fingerprint": ("__main__", "_stat_fingerprint"),
    "session.get_spark": ("session", "get_spark"),
    "plans.kg_inferred_triples": ("driver_queries", "kg_inferred_triples"),
    "plans.run_kg_pipeline": ("plans.pipeline", "run_kg_pipeline"),
    "plans.run_kg_pipeline_checkpointed": ("plans.pipeline", "run_kg_pipeline_checkpointed"),
    "extraction.extract_documents": ("operators.extraction", "extract_documents"),
    "mentions.detect_mentions": ("operators.mentions", "detect_mentions"),
    "mentions.synthesize_extract_and_detect": ("operators.mentions", "synthesize_extract_and_detect"),
    "linking.build_alias_table": ("operators.linking", "build_alias_table"),
    "linking.resolve_mentions": ("operators.linking", "resolve_mentions"),
    "graph.cooccurrence_pairs": ("operators.graph", "cooccurrence_pairs"),
    "graph.infer_edges": ("operators.graph", "infer_edges"),
    "graph.assemble_triples": ("operators.graph", "assemble_triples"),
    "checkpoint.run_stage": ("plans.checkpoint", "run_stage"),
    "checkpoint.write_stage": ("plans.checkpoint", "write_stage"),
    "checkpoint.compute_lineage": ("plans.checkpoint", "compute_lineage"),
}
LAYERS = ("cli", "session", "plans", "extraction", "mentions", "linking", "graph",
          "checkpoint", "sink")
# the positional index of the ``stage`` argument, for per-stage numbers
_STAGE_ARG = {"checkpoint.run_stage": 2, "checkpoint.write_stage": 3}
GROUP = "spark.jobGroup.id"


class Tracer:
    """In-memory spans. Each span also sets its own Spark job group, so
    every job is attributed to the innermost span that started it."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._saved: list[tuple] = []

    @contextlib.contextmanager
    def span(self, name: str, **detail):
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "group": f"kgb-span-{len(self.spans)}", **detail}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        outer = self.sc.getLocalProperty(GROUP)
        self.sc.setLocalProperty(GROUP, rec["group"])
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty(GROUP, outer)

    def _wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            stage = kwargs.get("stage")
            if stage is None and name in _STAGE_ARG and len(args) > _STAGE_ARG[name]:
                stage = args[_STAGE_ARG[name]]
            with self.span(name, stage=stage) as rec:
                out = fn(*args, **kwargs)
                if name == "checkpoint.run_stage":
                    rec["resumed"] = bool(out[1])
                return out
        return traced

    def install(self) -> None:
        """Point every package-module binding of each target at a wrapper."""
        for name, (mod, attr) in TARGETS.items():
            orig = getattr(importlib.import_module(f"{PKG}.{mod}"), attr)
            wrapped = self._wrap(name, orig)
            for m in [m for k, m in sys.modules.items() if k.startswith(PKG) and m is not None]:
                for k, v in list(vars(m).items()):
                    if v is orig:
                        setattr(m, k, wrapped)
                        self._saved.append((m, k, orig))

    def uninstall(self) -> None:
        for m, k, orig in reversed(self._saved):
            setattr(m, k, orig)
        self._saved.clear()

    # -- reading the spans -------------------------------------------------
    def subtree(self, root: int) -> list[dict]:
        ids, out = {root}, []
        for s in self.spans[root:]:
            if s["id"] == root or s["parent"] in ids:
                ids.add(s["id"])
                out.append(s)
        return out

    def self_times(self, root: int) -> dict[str, float]:
        """Seconds per layer that no child span covers; ``gap`` is the root's."""
        spans = self.subtree(root)
        child = {s["id"]: 0.0 for s in spans}
        for s in spans:
            if s["id"] != root:
                child[s["parent"]] += s["end"] - s["start"]
        out = dict.fromkeys(LAYERS + ("gap",), 0.0)
        for s in spans:
            own = s["end"] - s["start"] - child[s["id"]]
            out["gap" if s["id"] == root else s["name"].split(".")[0]] += own
        return out


def job_counts(sc, groups: list[str]) -> dict[str, int]:
    """Exact jobs, stages and tasks that ran under the given job groups, from
    the status tracker; a stage reused from an earlier job ran no tasks."""
    st = sc.statusTracker()
    jobs = [j for g in groups for j in st.getJobIdsForGroup(g)]
    stages = set()
    for j in jobs:
        info = st.getJobInfo(j)
        stages.update(info.stageIds if info else ())
    ran = [st.getStageInfo(s) for s in stages]
    ran = [s for s in ran if s is not None and s.numCompletedTasks > 0]
    return {"jobs": len(jobs), "stages": len(ran),
            "tasks": sum(s.numCompletedTasks for s in ran)}


def read_event_log(log_dir: Path) -> dict[str, dict[str, float]]:
    """Per job group: shuffle bytes written, JVM GC seconds and bytes sent
    to / returned from Python workers, summed over finished tasks."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}
    for path in sorted(glob.glob(str(log_dir / "*"))):
        with open(path) as f:
            for line in f:
                if line.startswith('{"Event":"SparkListenerJobStart"'):
                    e = json.loads(line)
                    g = (e.get("Properties") or {}).get(GROUP)
                    for s in e["Stage IDs"]:
                        stage_group.setdefault(s, g)
                elif line.startswith('{"Event":"SparkListenerTaskEnd"'):
                    e = json.loads(line)
                    g = stage_group.get(e["Stage ID"])
                    acc = out.setdefault(g, dict.fromkeys(
                        ("shuffle_bytes", "gc_s", "py_sent", "py_received"), 0.0))
                    tm = e.get("Task Metrics") or {}
                    acc["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
                    acc["shuffle_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    for a in (e.get("Task Info") or {}).get("Accumulables", []):
                        if a.get("Name") == "data sent to Python workers":
                            acc["py_sent"] += int(a.get("Update", 0))
                        elif a.get("Name") == "data returned from Python workers":
                            acc["py_received"] += int(a.get("Update", 0))
    return out


def sum_groups(ev: dict, groups) -> dict[str, float]:
    tot = dict.fromkeys(("shuffle_bytes", "gc_s", "py_sent", "py_received"), 0.0)
    for g in groups:
        for k, v in ev.get(g, {}).items():
            tot[k] += v
    return tot


# ---- layer isolation -----------------------------------------------------

def isolate(spark, wl) -> tuple[dict, list[str]]:
    """Run each layer's public function from a cached input to the noop sink.
    Each timed call runs under its own job group ``kgb-iso-<layer>``. Returns
    the metrics and the alias list in insertion order."""
    from pyspark.sql import functions as F

    from ai_knowledge_graph_builder_spark import driver_queries as dq
    from ai_knowledge_graph_builder_spark.operators import extraction, graph, linking, mentions
    from ai_knowledge_graph_builder_spark.plans.pipeline import _empty_edges

    sc = spark.sparkContext
    cached = []

    def cache(df):
        df = df.persist()
        df.count()
        cached.append(df)
        return df

    def timed(layer: str, fn):
        sc.setLocalProperty(GROUP, f"kgb-iso-{layer}")
        t0 = time.perf_counter()
        try:
            out = fn()
        finally:
            sc.setLocalProperty(GROUP, None)
        return out, time.perf_counter() - t0

    def noop(*dfs):
        for df in dfs:
            df.write.format("noop").mode("overwrite").save()

    m: dict[str, float] = {"extraction.run_s": 0.0}
    work = wl.work
    if wl.name == "flagship":
        n = sc.defaultParallelism
        docs = cache(spark.read.parquet(str(work / "sf" / "documents.parquet"))
                     .select("doc_id", "text")
                     .repartition(n, F.pmod(F.xxhash64("doc_id"), F.lit(n))))
        mraw_fn = lambda: mentions.synthesize_extract_and_detect(  # noqa: E731
            docs, dq.flagship_gazetteer(), presalted=True)
        registry = dq.flagship_registry_df(spark)
    else:
        pages = cache(spark.read.parquet(str(work / "pages.parquet")))
        _, m["extraction.run_s"] = timed(
            "extraction", lambda: noop(extraction.extract_documents(pages)))
        documents = cache(extraction.extract_documents(pages))
        mraw_fn = lambda: mentions.detect_mentions(documents)  # noqa: E731
        registry = spark.read.parquet(str(work / "registry.parquet"))
    _, m["mentions.run_s"] = timed("mentions", lambda: noop(mraw_fn()))
    mraw = cache(mraw_fn())
    m["mentions.rows_out"] = mraw.count()

    aliases = cache(linking.build_alias_table(registry))
    (res, ext), build_s = timed("linking", lambda: linking.resolve_mentions(mraw, aliases))
    _, sink_s = timed("linking", lambda: noop(res, ext))
    m["linking.run_s"] = build_s + sink_s
    res, ext = cache(res), cache(ext)
    norms = mraw.select(F.lower(F.trim("text")).alias("norm")).distinct()
    unmatched = norms.join(aliases, norms["norm"] == aliases["alias"], "left_anti")
    m["linking.distinct_norms"] = norms.count()
    m["linking.fuzzy_attempts"] = unmatched.count()
    hits = (res.filter(F.col("resolution_method") == "fuzzy_match")
            .select(F.lower(F.trim("text"))).distinct().count())
    m["linking.fuzzy_hit_ratio"] = hits / m["linking.fuzzy_attempts"] if m["linking.fuzzy_attempts"] else 0.0
    m["linking.external_nodes"] = ext.count()

    _, m["graph.cooccur_run_s"] = timed("graph", lambda: noop(graph.cooccurrence_pairs(res)))
    cooccur = cache(graph.cooccurrence_pairs(res))
    m["graph.pairs"] = cooccur.count()
    _, m["graph.infer_run_s"] = timed(
        "graph", lambda: noop(graph.infer_edges(cooccur, _empty_edges(spark))))
    inferred = cache(graph.infer_edges(cooccur, _empty_edges(spark)))
    nodes = cache(graph.registry_nodes(registry).unionByName(ext))
    _, m["graph.assemble_run_s"] = timed(
        "graph", lambda: noop(graph.assemble_triples(inferred, nodes)))

    alias_list = [r["alias"] for r in aliases.orderBy("insertion_idx").collect()]
    for df in cached:
        df.unpersist()
    return m, alias_list


# ---- single-thread kernels -----------------------------------------------

def _per_item_us(fn, items, passes: int = 3) -> float:
    if not items:
        return 0.0
    runs = []
    for _ in range(passes):
        t0 = time.perf_counter()
        for x in items:
            fn(x)
        runs.append(time.perf_counter() - t0)
    return statistics.median(runs) / len(items) * 1e6


def kernels(wl, alias_list: list[str], sample: int = 500, max_norms: int = 300) -> dict:
    """Microseconds per document (extraction, NER) and per unresolved norm
    (fuzzy) on the first ``sample`` rows of the workload's own inputs."""
    import pandas as pd

    from ai_knowledge_graph_builder_spark.driver_queries import flagship_gazetteer
    from ai_knowledge_graph_builder_spark.functions.fuzzy import best_alias_match
    from ai_knowledge_graph_builder_spark.functions.html import extract_text, render_html
    from ai_knowledge_graph_builder_spark.functions.ner import RuleNER

    if wl.name == "flagship":
        docs = pd.read_parquet(wl.work / "sf" / "documents.parquet").head(sample)
        htmls = [render_html(f"doc {i}", t) for i, t in zip(docs["doc_id"], docs["text"])]
        ner = RuleNER(flagship_gazetteer())
    else:
        htmls = list(pd.read_parquet(wl.work / "pages.parquet", columns=["html"])["html"].head(sample))
        ner = RuleNER()
    texts = [extract_text(h) for h in htmls]
    known = set(alias_list)
    norms = sorted({m.text.lower().strip() for t in texts for m in ner(t)} - known)[:max_norms]
    return {
        "functions.extract_text_us_per_doc": _per_item_us(extract_text, htmls),
        "functions.ner_us_per_doc": _per_item_us(ner, texts),
        "functions.fuzzy_us_per_norm": _per_item_us(
            lambda s: best_alias_match(s, alias_list), norms),
    }
