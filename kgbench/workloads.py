"""The benchmark's workloads: inputs made from the seed, oracle answers, and
the one operation each workload repeats.

Inputs and oracle answers are made by the orchestrator before any measured
process starts (``prepare``); the operation and its check run inside the
measured driver process (``Workload``). The program only ever sees the
generated parquet files.
"""

from __future__ import annotations

import contextlib
import io
import json
import pickle
import random
import shutil
from collections import Counter
from difflib import SequenceMatcher
from pathlib import Path

import pandas as pd

WORKLOADS = ("flagship", "cli_build", "cli_resume", "open_vocab")

# full size, then the smoke size (same code path, seconds instead of minutes)
SIZES = {
    "flagship": (5000, 200),      # documents
    "cli_build": (400, 3),        # generate_corpus waves
    "cli_resume": (400, 3),
    "open_vocab": (2000, 40),     # open_vocab_pages documents
}
# warm operations run before measuring and left out of wall_s: the
# flagship's first three warm operations still speed up (5.8, 5.3, 4.9 s, then
# 3.4-3.9 s); the CLI's operation is dominated by its ~47 jobs' fixed cost
WARMUP_OPS = {"flagship": 3, "cli_build": 0, "cli_resume": 0, "open_vocab": 0}
STAGES = ("documents", "mentions_raw", "mentions", "nodes", "edges", "triples")
TABLES = ("documents", "mentions", "nodes", "edges", "triples")

# the word distribution of the sf0.1 documents table: 30 common words
# drawn uniformly, plus a rare registry word, 10-100 words per document
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
RARE_WORD, RARE_P = "dup", 0.001
LANGS = ("en", "en", "en", "zh", "es", "fr", "de")


def flagship_documents(seed: int, n_docs: int) -> pd.DataFrame:
    """A ``documents`` table shaped like sf0.1's (doc_id, text, lang, source,
    n_chars), its rows in seed-permuted order."""
    rng = random.Random(seed)
    rows = []
    for i in range(n_docs):
        words = [RARE_WORD if rng.random() < RARE_P else rng.choice(VOCAB)
                 for _ in range(rng.randint(10, 100))]
        text = " ".join(words)
        rows.append({"doc_id": i, "text": text, "lang": rng.choice(LANGS),
                     "source": f"src{i % 7}", "n_chars": len(text)})
    rng.shuffle(rows)
    return pd.DataFrame(rows)


class _BoundedMatcher:
    """Stands in for ``difflib.SequenceMatcher`` inside the pandas oracle.

    The oracle only compares ``ratio()`` against its running best and then
    against its acceptance threshold. ``ratio() <= 2*min(la, lb)/(la+lb)``
    and ``<= 2*|multiset(a) & multiset(b)|/(la+lb)``; when either bound is
    below the threshold the bound is returned instead of the exact ratio.
    Such a value can neither be accepted nor beat an accepted score, so the
    oracle's answer is unchanged; the exact ratio is computed (and memoized
    per pair) only where it can matter."""

    threshold = 0.9
    _memo: dict[tuple[str, str], float] = {}
    _bags: dict[str, Counter] = {}

    def __init__(self, isjunk, a: str, b: str):
        self.a, self.b = a, b

    def ratio(self) -> float:
        key = (self.a, self.b)
        r = self._memo.get(key)
        if r is None:
            r = self._memo[key] = self._ratio(*key)
        return r

    def _ratio(self, a: str, b: str) -> float:
        total = len(a) + len(b)
        if total == 0:
            return 1.0
        bound = 2.0 * min(len(a), len(b)) / total
        if bound < self.threshold:
            return bound
        bags = self._bags
        ca = bags.get(a) or bags.setdefault(a, Counter(a))
        cb = bags.get(b) or bags.setdefault(b, Counter(b))
        bound = 2.0 * sum((ca & cb).values()) / total
        if bound < self.threshold:
            return bound
        return SequenceMatcher(None, a, b).ratio()


def run_pandas_oracle(pages: pd.DataFrame, registry: pd.DataFrame) -> dict[str, pd.DataFrame]:
    """``plans.oracle.run_oracle`` with ``RuleNER`` on a pages+registry corpus,
    as tests/test_pipeline_parity.py runs it."""
    from ai_knowledge_graph_builder_spark.functions.ner import RuleNER
    from ai_knowledge_graph_builder_spark.plans import oracle

    empty = pd.DataFrame()
    corpus = {"pages": pages, "registry": registry, "doc_meta": empty,
              "employees": empty, "assignments": empty, "policies": empty}
    saved = oracle.SequenceMatcher
    _BoundedMatcher.threshold = oracle.RESOLUTION_THRESHOLD
    oracle.SequenceMatcher = _BoundedMatcher
    try:
        return oracle.run_oracle(corpus, RuleNER())
    finally:
        oracle.SequenceMatcher = saved


# ---- row keys, shared by the oracle answers and the checks ---------------
# the columns tests/test_pipeline_parity.py compares, confidence to 4 places

TRIPLE_COLS = ("subject_id", "subject_name", "subject_type", "predicate", "object_id",
               "object_name", "object_type", "source", "flagged", "inferred", "text")
KEY_COLS = {
    "mentions": ("url", "mention_idx", "text", "label", "resolved_id",
                 "resolution_method", "resolution_type", "confidence"),
    "nodes": ("id", "name", "node_type"),
    "edges": ("src", "predicate", "dst", "confidence", "source", "flagged", "inferred", "props"),
    "triples": TRIPLE_COLS + ("confidence",),
    "flagship": ("subject_id", "predicate", "object_id", "confidence", "cooccurrence_count"),
}
_NORMALISE = {
    "confidence": lambda x: round(float(x), 4),
    "flagged": bool,
    "inferred": bool,
    "cooccurrence_count": int,
    "props": lambda p: tuple(sorted(dict(p).items())) if p else (),
}


def key_set(table: str, column) -> set:
    """Row keys of ``table``; ``column(name)`` returns one column as a list."""
    cols = []
    for c in KEY_COLS[table]:
        values = column(c)
        if c in _NORMALISE:
            values = map(_NORMALISE[c], values)
        cols.append(values)
    return set(zip(*cols))


def _pandas_keys(table: str, df: pd.DataFrame) -> set:
    return key_set(table, lambda c: df[c].tolist())


def _spark_keys(table: str, df) -> set:
    rows = df.select(*KEY_COLS[table]).collect()
    return key_set(table, lambda c: [r[c] for r in rows])


def _parquet_keys(table: str, path: Path) -> set:
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=list(KEY_COLS[table]))

    def column(c: str) -> list:
        col = t.column(c).combine_chunks()
        if pa.types.is_dictionary(col.type):  # partition columns
            col = col.dictionary_decode()
        if not pa.types.is_map(col.type):
            return _pylist(col)
        # map rows as (key, value) pairs, without a dict per row
        keys, items, offs = _pylist(col.keys), _pylist(col.items), _pylist(col.offsets)
        return [list(zip(keys[a:b], items[a:b])) for a, b in zip(offs, offs[1:])]

    return key_set(table, column)


def _pylist(arr) -> list:
    """``arr.to_pylist()``, several times faster for string columns."""
    return arr.to_numpy(zero_copy_only=False).tolist() if arr.null_count == 0 else arr.to_pylist()


def _answer_from_oracle(o: dict[str, pd.DataFrame], tables) -> dict:
    ans = {"counts": {t: len(o[t]) for t in TABLES}}
    for t in tables:
        ans[t] = _pandas_keys(t, o[t])
    return ans


# ---- orchestrator side ---------------------------------------------------

def prepare(name: str, seed: int, work: Path, smoke: bool) -> dict:
    """Write the workload's inputs under ``work`` and pickle the oracle
    answer beside them. Returns the measured process's configuration."""
    size = SIZES[name][1 if smoke else 0]
    cfg: dict = {"workload": name, "seed": seed, "work": str(work),
                 "warmup_ops": WARMUP_OPS[name]}
    if name == "flagship":
        docs = flagship_documents(seed, size)
        (work / "sf").mkdir()
        docs.to_parquet(work / "sf" / "documents.parquet", index=False)
        answer = {"rows": _flagship_oracle(work / "sf")}
        cfg["n_docs"] = len(docs)
    else:
        from ai_knowledge_graph_builder_spark.sources.corpus import (
            generate_corpus, open_vocab_pages,
        )

        if name == "open_vocab":
            # the open-vocabulary pages name employees of the seed-42 registry
            pages = open_vocab_pages(n_docs=size, uniques_per_doc=12, seed=seed)
            registry = generate_corpus(seed=42, waves=1)["registry"]
            tables = ("nodes", "edges")
        else:
            c = generate_corpus(seed=seed, waves=size)
            pages, registry = c["pages"], c["registry"]
            tables = ("mentions", "nodes", "edges", "triples")
        # Spark 4.1 rejects pandas' nanosecond parquet timestamps
        pages = pages.assign(warc_ts=pages["warc_ts"].astype("datetime64[us]"))
        pages.to_parquet(work / "pages.parquet", index=False)
        registry.to_parquet(work / "registry.parquet", index=False)
        answer = _answer_from_oracle(run_pandas_oracle(pages, registry), tables)
        cfg["n_docs"] = len(pages)
    with open(work / "answer.pkl", "wb") as f:
        pickle.dump(answer, f)
    return cfg


def _flagship_oracle(sf_dir: Path) -> set:
    import duckdb

    from ai_knowledge_graph_builder_spark.driver_queries import KG_INFERRED_TRIPLES_SQL

    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'")
        df = con.execute(KG_INFERRED_TRIPLES_SQL).df()
    finally:
        con.close()
    return _pandas_keys("flagship", df)


# ---- measured-process side -----------------------------------------------

def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    """One workload inside the measured process: ``op`` is the timed
    operation, ``check`` compares its output with the oracle answer and
    runs outside the timed window. ``span`` is a context-manager factory the
    traced run uses to time the sink; untraced it does nothing."""

    def __init__(self, spark, cfg: dict):
        self.spark = spark
        self.name = cfg["workload"]
        self.work = Path(cfg["work"])
        with open(self.work / "answer.pkl", "rb") as f:
            self.answer = pickle.load(f)
        self.build_stats = cfg.get("build_stats")

    # -- the operation ----------------------------------------------------
    def op(self, i: int, span):
        if self.name == "flagship":
            from ai_knowledge_graph_builder_spark.driver_queries import kg_inferred_triples

            df = kg_inferred_triples(self.spark, str(self.work / "sf"))
            with span("sink"):
                _noop(df)
            return df
        if self.name == "open_vocab":
            from ai_knowledge_graph_builder_spark.plans.pipeline import run_kg_pipeline

            out = run_kg_pipeline(self.spark, self.spark.read.parquet(str(self.work / "pages.parquet")),
                                  self.spark.read.parquet(str(self.work / "registry.parquet")))
            with span("sink"):
                _noop(out["nodes"])
                _noop(out["edges"])
            return out
        return self.run_cli(self.output_dir(i))

    def output_dir(self, i: int) -> Path:
        if self.name == "cli_resume":
            return self.work / "committed"
        return self.work / f"out-{i}"

    def run_cli(self, out: Path) -> dict:
        from ai_knowledge_graph_builder_spark.__main__ import main

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            rc = main(["--pages", str(self.work / "pages.parquet"),
                       "--registry", str(self.work / "registry.parquet"),
                       "--output", str(out)])
        if rc != 0:
            raise RuntimeError(f"CLI exited with {rc}")
        return json.loads(buf.getvalue().strip().splitlines()[-1])

    # -- the check --------------------------------------------------------
    def check(self, i: int, result) -> None:
        """Raise AssertionError when the operation's output is wrong."""
        ans = self.answer
        if self.name == "flagship":
            _same("triples", _spark_keys("flagship", result), ans["rows"])
            return
        if self.name == "open_vocab":
            for t in ("nodes", "edges"):
                _same(t, _spark_keys(t, result[t]), ans[t])
            return
        stats, out = result, self.output_dir(i)
        want_resumed = list(STAGES) if self.name == "cli_resume" else []
        if stats["resumed_stages"] != want_resumed:
            raise AssertionError(f"resumed {stats['resumed_stages']}, expected {want_resumed}")
        if stats["tables"] != ans["counts"]:
            raise AssertionError(f"table counts {stats['tables']} != oracle {ans['counts']}")
        if self.build_stats is not None and stats["tables"] != self.build_stats["tables"]:
            raise AssertionError(f"resumed counts {stats['tables']} != build {self.build_stats['tables']}")
        for t in ("mentions", "nodes", "edges", "triples"):
            _same(t, _parquet_keys(t, out / t), ans[t])

    def cleanup(self, i: int) -> None:
        if self.name == "cli_build":
            shutil.rmtree(self.output_dir(i), ignore_errors=True)


def _same(table: str, got: set, want: set) -> None:
    if got != want:
        raise AssertionError(f"{table}: {len(got - want)} rows only in the output, "
                             f"{len(want - got)} only in the oracle, e.g. "
                             f"{list(got - want)[:2]} / {list(want - got)[:2]}")
