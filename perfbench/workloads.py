"""The three workloads: inputs, the timed operation, and its output checks.

A workload object owns its input and its scratch directories. ``prepare``
(re)builds the input, ``warmup`` runs untimed operations until lazy set-up
is done, ``op`` runs one timed operation and checks its output, and
``finish`` runs the checks that need every operation of the run.

kg-synth and kg-code time one full ``pipeline.run`` (plus counting its
triples) per operation; kg-stream times one closed-loop ingest step.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import statistics
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

import gen
from host import tree_cpu_s

# input sizes per --size; "tiny" is the smoke-test size
SIZES = {
    "full": {"synth_rows": 12_000, "synth_warm_rows": 3_000,
             "code_files": 1_700, "code_clusters": 3_300, "code_hubs": 8,
             "code_warm_files": 200, "code_warm_clusters": 300,
             "stream_base_rows": 2_000, "stream_delta_rows": 2_000,
             "stream_warm_steps": 5, "reads_per_op": 30},
    "tiny": {"synth_rows": 400, "synth_warm_rows": 200,
             "code_files": 60, "code_clusters": 100, "code_hubs": 1,
             "code_warm_files": 30, "code_warm_clusters": 40,
             "stream_base_rows": 100, "stream_delta_rows": 50,
             "stream_warm_steps": 1, "reads_per_op": 1},
}
# reads after the warm-up run: enough to compile the read path
WARMUP_READS = 10
_CORPUS_COLS = ["row_id", "repo", "path", "commit", "lang", "content"]


def no_span(name: str, **attrs):
    return nullcontext()


@dataclass
class OpResult:
    wall_s: float
    cpu_s: float
    triples: int
    read_s: list[float]
    read_cpu_s: list[float]
    problems: list[str] = field(default_factory=list)


def _tokens_per_row(rows: list[tuple]) -> float:
    from ht_ner_spark.functions.text import TOKEN_PATTERN

    tok = re.compile(TOKEN_PATTERN)
    return round(sum(len(tok.findall(r[5])) for r in rows) / len(rows), 2)


def _rows_to_parquet(rows: list[tuple], path: str) -> None:
    cols = list(zip(*rows))
    table = pa.table({
        "row_id": pa.array(cols[0], pa.int64()),
        **{c: pa.array(v, pa.string()) for c, v in zip(_CORPUS_COLS[1:], cols[1:])},
    })
    pq.write_table(table, path)


def _checkpoint_rows(warehouse: str) -> list[dict]:
    path = os.path.join(warehouse, "_checkpoint")
    if not os.path.isdir(path):
        return []
    return ds.dataset(path, format="parquet").to_table().to_pylist()


def _tree_bytes_files(path: str) -> tuple[int, int]:
    n = size = 0
    for dp, _, fs in os.walk(path):
        for f in fs:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(dp, f))
    return n, size


def triple_digest(triples) -> str:
    """Order-independent digest of a (subj, pred, obj) set: row count, sum
    and xor of a 64-bit row hash."""
    from pyspark.sql import functions as F

    h = F.xxhash64("subj", "pred", "obj")
    r = triples.select(h.alias("h")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("h").cast("decimal(38,0)")).alias("s"),
        F.bit_xor("h").alias("x")).collect()[0]
    return f"{r['n']}:{r['s']}:{r['x']}"


class _DigestStore:
    """Digests of earlier runs in this checkout, so runs of one seed in
    separate processes are compared too."""

    def __init__(self, path: str):
        self.path = path

    def check(self, key: str, digest: str) -> str | None:
        os.makedirs(os.path.dirname(self.path), exist_ok=True)
        seen = {}
        if os.path.isfile(self.path):
            with open(self.path) as f:
                seen = json.load(f)
        if key in seen and seen[key] != digest:
            return f"triple digest {digest} differs from an earlier run's {seen[key]}"
        seen[key] = digest
        with open(self.path + ".tmp", "w") as f:
            json.dump(seen, f)
        os.replace(self.path + ".tmp", self.path)
        return None


class _BatchWorkload:
    """A full pipeline.run per operation over a cached corpus."""

    name = ""

    def __init__(self, spark, seed: int, work: str, size: str, state_dir: str):
        self.spark, self.seed, self.work, self.size = spark, seed, work, size
        self.cfg = SIZES[size]
        self.slots = spark.sparkContext.defaultParallelism
        self.corpus = None
        self.n_rows = 0
        self.props: dict = {}
        self.digests: list[str] = []
        self.last_wh: str | None = None
        self._n_wh = 0
        self._store = _DigestStore(os.path.join(state_dir, "digests.json"))

    def rebind(self, spark) -> None:
        """Continue on a new Spark context (the old one's cache is gone)."""
        self.spark, self.corpus = spark, None

    # -- input
    def _load(self):
        """-> the cached corpus frame; sets n_rows and props."""
        raise NotImplementedError

    def prepare(self) -> None:
        if self.corpus is not None:
            self.corpus.unpersist()
        self.corpus = self._load()
        self.corpus.count()

    def _new_wh(self) -> str:
        self._n_wh += 1
        wh = os.path.join(self.work, "wh", str(self._n_wh))
        shutil.rmtree(wh, ignore_errors=True)
        return wh

    def _run(self, corpus, n_rows: int, run_id: str):
        from ht_ner_spark import pipeline

        wh = self._new_wh()
        cfg = pipeline.PipelineConfig(warehouse=wh, run_id=run_id,
                                      corpus_rows_hint=n_rows)
        return wh, pipeline.run(self.spark, corpus, cfg)

    def _warm_corpus(self):
        """-> (cached smaller corpus of the same shape, its row count)."""
        raise NotImplementedError

    def warmup(self) -> None:
        """One untimed run and a few reads on a smaller corpus of the same
        shape. What the first run in a JVM pays for (JIT, code generation,
        Python worker start-up) hardly depends on the row count: on kg-synth
        the first timed run after it is no slower than after a full-size
        warm-up run."""
        small, n = self._warm_corpus()
        wh, triples = self._run(small, n, "warmup")
        triples.count()
        self._reads(wh, no_span, WARMUP_READS)
        small.unpersist()
        shutil.rmtree(wh, ignore_errors=True)

    def _reads(self, wh: str, span, limit: int | None = None) -> tuple[list[float], list[float]]:
        """Timed per-repo reads of the written triples table: (wall
        seconds, CPU seconds) per read."""
        from pyspark.sql import functions as F

        from ht_ner_spark.storage import catalog as cat

        walls, cpus = [], []
        for repo in self.read_repos()[:limit]:
            with span("read"):
                t, c = time.monotonic(), tree_cpu_s()
                cat.read_table(self.spark, wh, "triples").where(
                    (F.col("pred") == "appears_in") & (F.col("obj") == repo)
                ).select("subj").collect()
                walls.append(time.monotonic() - t)
                cpus.append(tree_cpu_s() - c)
        return walls, cpus

    def rewarm(self) -> None:
        """Warm-up after a Spark context restart in a warm JVM: prepare's
        count job has already started the new Python workers."""

    # -- timed operation
    def op(self, span) -> OpResult:
        if self.last_wh:
            shutil.rmtree(self.last_wh, ignore_errors=True)
        with span("op"):
            t0, c0 = time.monotonic(), tree_cpu_s()
            wh, triples = self._run(self.corpus, self.n_rows, "bench")
            n = triples.count()
            wall, cpu = time.monotonic() - t0, tree_cpu_s() - c0
        self.last_wh = wh
        res = OpResult(wall, cpu, n, *self._reads(wh, span))
        ck = _checkpoint_rows(wh)
        s4 = [r for r in ck if r["stage"] == "s4"]
        if not s4 or not all(r["sha_ok"] for r in s4):
            res.problems.append("s4 checkpoint row has sha_ok unset")
        self._record_linking(ck)
        digest = triple_digest(triples)
        if self.digests and digest != self.digests[0]:
            res.problems.append(f"triple digest {digest} differs within the run")
        self.digests.append(digest)
        res.problems += self.check_op(wh)
        return res

    def read_repos(self) -> list[str]:
        raise NotImplementedError

    def check_op(self, wh: str) -> list[str]:
        return []

    def finish(self, results: list) -> list[str]:
        """Checks that need the whole run; may add problems to results."""
        if not self.digests:
            return []
        err = self._store.check(f"{self.name}:{self.size}:{self.seed}", self.digests[0])
        return [err] if err else []

    def report(self) -> dict:
        return {"triple_digest": self.digests[0] if self.digests else None}

    def _record_linking(self, ck: list[dict]) -> None:
        """Properties of the alias graph the run built: its edge count, the
        dropped LSH blocks and which connected_components path that edge
        count selects (the driver path below its driver_budget)."""
        import inspect

        from ht_ner_spark.operators.components import connected_components

        budget = inspect.signature(connected_components).parameters["driver_budget"].default
        s2 = [r for r in ck if r["stage"] == "s2"]
        edges = sum(r["rows_out"] for r in s2)
        self.props["alias_edges"] = edges
        self.props["dropped_lsh_blocks"] = int(dict(s2[0]["counters"]).get("dropped_blocks", 0)) if s2 else 0
        self.props["components_path"] = "distributed" if edges > budget else "driver"

    # -- per-layer counts of the last operation's warehouse
    def layer_counts(self) -> dict:
        rows = _checkpoint_rows(self.last_wh) if self.last_wh else []

        def stage(name):
            return [r for r in rows if r["stage"] == name]

        def out(name):
            return sum(r["rows_out"] for r in stage(name))

        files, size = _tree_bytes_files(os.path.join(self.last_wh or "", "triples"))
        return {
            "s1.rows_in": max((r["rows_in"] for r in stage("s1")), default=0),
            "s1.mentions": out("s1"),
            "s1b.entity_rows": out("s1b"),
            "s2.edges": out("s2"),
            "s2.dropped_blocks": self.props.get("dropped_lsh_blocks", 0),
            "s3.nodes": out("s3"),
            "s4.triples": out("s4"),
            "s4.files": files,
            "s4.mb_written": size / 1e6,
        }


class SynthWorkload(_BatchWorkload):
    """corpus.synthetic_corpus: ~25-token rows, ~100-token vocabulary, a
    dozen alias surfaces, one row in nine naming the hub "Alice"."""

    name = "kg-synth"

    def _load(self):
        from ht_ner_spark.corpus import synthetic_corpus

        self.n_rows = self.cfg["synth_rows"]
        if not self.props:
            self.props = self._properties(self.n_rows)
        self._entities: list[dict] = []
        return synthetic_corpus(self.spark, self.n_rows, seed=self.seed,
                                partitions=2 * self.slots).cache()

    def _properties(self, n: int) -> dict:
        from ht_ner_spark.corpus import gold_entities, synthetic_rows
        from ht_ner_spark.functions.text import TOKEN_PATTERN

        rows = synthetic_rows(n, self.seed)
        self._gold = gold_entities(n, self.seed)
        return {
            "rows": n,
            "tokens_per_row": _tokens_per_row(rows),
            "distinct_tokens": len({t for r in rows for t in re.findall(TOKEN_PATTERN, r[5])}),
            "distinct_surfaces": len({e for es in self._gold.values() for e in es}),
            "hub_row_share": round(sum("alice" in g for g in self._gold.values()) / n, 4),
        }

    @staticmethod
    def reference(seed: int, size: str):
        """-> a function computing the stage-1 entities of the
        reference-semantics oracle, per row. It is pure Python and needs no
        Spark: run.py calls it on a thread while the JVM starts. The imports
        happen here, in the caller's thread."""
        from ht_ner_spark.corpus import DEFAULT_GAZETTEER, synthetic_rows
        from tests import oracle

        docs = {r[0]: r[5] for r in synthetic_rows(SIZES[size]["synth_rows"], seed)}
        return lambda: oracle.stage1_entities(docs, DEFAULT_GAZETTEER)

    def _warm_corpus(self):
        from ht_ner_spark.corpus import synthetic_corpus

        n = self.cfg["synth_warm_rows"]
        return synthetic_corpus(self.spark, n, seed=self.seed,
                                partitions=2 * self.slots).cache(), n

    def read_repos(self) -> list[str]:
        k = self.cfg["reads_per_op"]
        return [f"org{(self.seed + j) % 7}/proj{(self.seed + 3 * j) % 13}" for j in range(k)]

    def check_op(self, wh: str) -> list[str]:
        from ht_ner_spark.storage import catalog as cat

        self._entities.append({r["row_id"]: set(r["entities"])
                               for r in cat.read_table(self.spark, wh, "entities").collect()})
        return []

    def finish(self, results: list) -> list[str]:
        """Stage-1 entity P/R >= 0.95 against the reference-semantics oracle
        (the BASELINE gate) for every operation; P/R against the planted
        gold is reported."""
        want = self.expected.result()
        for res, got in zip(results, self._entities[-len(results):] if results else []):
            p, r = _prf(got, want)
            gp, gr = _prf(got, self._gold)
            self.quality = {"entity_precision": p, "entity_recall": r,
                            "gold_precision": gp, "gold_recall": gr}
            if p < 0.95 or r < 0.95:
                res.problems.append(f"entity P/R {p:.4f}/{r:.4f} below 0.95 against the oracle")
        return super().finish(results)

    def report(self) -> dict:
        return {**super().report(), **getattr(self, "quality", {})}


def _prf(got: dict, want: dict) -> tuple[float, float]:
    tp = fp = fn = 0
    for rid in set(got) | set(want):
        g, w = got.get(rid, set()), want.get(rid, set())
        tp += len(g & w)
        fp += len(g - w)
        fn += len(w - g)
    return (tp / (tp + fp) if tp + fp else 1.0, tp / (tp + fn) if tp + fn else 1.0)


class CodeWorkload(_BatchWorkload):
    """Benchmark-owned code-like files (gen.code_corpus_rows): a Zipfian
    identifier vocabulary, thousands of CamelCase alias clusters (more alias
    edges than connected_components' driver budget) and hub clusters whose
    LSH blocks overflow max_block. One full-size run costs ~45 s warm on 4
    cores."""

    name = "kg-code"

    def _files(self, warm: bool):
        from pyspark.sql import functions as F

        c = self.cfg
        rows, props = gen.code_corpus_rows(
            c["code_warm_files" if warm else "code_files"], self.seed + warm,
            n_clusters=c["code_warm_clusters" if warm else "code_clusters"],
            n_hubs=c["code_hubs"])
        path = os.path.join(self.work, "input", f"code-{int(warm)}.parquet")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        _rows_to_parquet(rows, path)
        df = (self.spark.read.parquet(path).repartition(2 * self.slots)
              .withColumn("content_sha256", F.sha2(F.col("content"), 256)).cache())
        return df, rows, props

    def _load(self):
        df, rows, props = self._files(warm=False)
        self.n_rows = len(rows)
        self.props = {**props, **{k: v for k, v in self.props.items() if k not in props}}
        self._repos = sorted({r[1] for r in rows})
        return df

    def _warm_corpus(self):
        small, rows, _ = self._files(warm=True)
        return small, len(rows)

    def read_repos(self) -> list[str]:
        k = self.cfg["reads_per_op"]
        return [self._repos[(self.seed + 5 * j) % len(self._repos)] for j in range(k)]


class StreamWorkload:
    """Closed loop, one client: land one delta parquet file of new synthetic
    rows, drain it with stream_triples (AvailableNow), then read the merged
    triples of one repo. Step latency runs from the file landing to the
    read's answer."""

    name = "kg-stream"

    def __init__(self, spark, seed: int, work: str, size: str, state_dir: str):
        self.spark, self.seed, self.work, self.size = spark, seed, work, size
        self.cfg = SIZES[size]
        self.n_prepared = 0

    def rebind(self, spark) -> None:
        self.spark = spark

    def rewarm(self) -> None:
        self.warmup(steps=1)

    def prepare(self) -> None:
        from ht_ner_spark.corpus import synthetic_rows_range

        self.n_prepared += 1
        root = os.path.join(self.work, "stream", str(self.n_prepared))
        shutil.rmtree(root, ignore_errors=True)
        self.corpus_dir = os.path.join(root, "corpus")
        self.staging = os.path.join(root, "staging")
        self.wh = os.path.join(root, "wh")
        for d in (self.corpus_dir, self.staging):
            os.makedirs(d)
        self.hi = 0
        self._land(self.cfg["stream_base_rows"])
        self._base_rows = synthetic_rows_range(0, self.hi, self.seed)

    def _land(self, n: int) -> tuple[float, str]:
        from ht_ner_spark.corpus import synthetic_rows_range

        rows = synthetic_rows_range(self.hi, self.hi + n, self.seed)
        name = f"delta-{self.hi:09d}.parquet"
        _rows_to_parquet(rows, os.path.join(self.staging, name))
        os.rename(os.path.join(self.staging, name), os.path.join(self.corpus_dir, name))
        self.hi += n
        return time.monotonic(), rows[0][1]

    def _step(self, span=no_span) -> OpResult:
        from pyspark.sql import functions as F

        from ht_ner_spark.corpus import DEFAULT_GAZETTEER
        from ht_ner_spark.streaming import incremental

        with span("op"):
            landed, repo = self._land(self.cfg["stream_delta_rows"])
            c0 = tree_cpu_s()
            incremental.stream_triples(self.spark, self.corpus_dir, self.wh,
                                       DEFAULT_GAZETTEER)
            with span("read"):
                t, c = time.monotonic(), tree_cpu_s()
                incremental.merged_triples(self.spark, self.wh).where(
                    F.col("subj") == repo).collect()
                done, c1 = time.monotonic(), tree_cpu_s()
        return OpResult(done - landed, c1 - c0, 0, [done - t], [c1 - c])

    def warmup(self, steps: int | None = None) -> None:
        for _ in range(steps or self.cfg["stream_warm_steps"]):
            self._step()

    def _delta_rows(self) -> int:
        path = os.path.join(self.wh, "triple_deltas")
        return ds.dataset(path, format="parquet", partitioning="hive").count_rows()

    def op(self, span) -> OpResult:
        before = self._delta_rows()
        res = self._step(span)
        res.triples = self._delta_rows() - before
        return res

    def finish(self, results: list) -> list[str]:
        """The final merged read equals the batch fold of the same rows
        (the invariant tests/test_streaming.py pins)."""
        from pyspark.sql import functions as F

        from ht_ner_spark.corpus import DEFAULT_GAZETTEER, synthetic_corpus
        from ht_ner_spark.operators.fused import fused_stage1, split_mentions
        from ht_ner_spark.streaming.incremental import merged_triples

        corpus = synthetic_corpus(self.spark, self.hi, seed=self.seed)
        want = {
            (r["subj"], r["pred"], r["obj"]): (r["n_witnesses"], r["conf"])
            for r in (
                split_mentions(fused_stage1(corpus, DEFAULT_GAZETTEER))
                .where(F.col("label") == "PERSON_NAME")
                .join(corpus.select("row_id", "repo"), "row_id")
                .groupBy(F.col("repo").alias("subj"),
                         F.lit("mentions_name").alias("pred"),
                         F.lower(F.col("surface")).alias("obj"))
                .agg(F.countDistinct("row_id").alias("n_witnesses"),
                     F.max("confidence").alias("conf"))
            ).collect()
        }
        got = {(r["subj"], r["pred"], r["obj"]): (r["n_witnesses"], r["conf"])
               for r in merged_triples(self.spark, self.wh).collect()}
        self.merged_triples = len(got)
        if got != want:
            return [f"merged triples ({len(got)}) differ from the batch fold ({len(want)})"]
        return []

    @property
    def props(self) -> dict:
        from ht_ner_spark.corpus import gold_entities

        n = self.cfg["stream_base_rows"]
        gold = gold_entities(n, self.seed)
        return {
            "rows": self.hi,
            "base_rows": n,
            "delta_rows_per_step": self.cfg["stream_delta_rows"],
            "tokens_per_row": _tokens_per_row(self._base_rows),
            "hub_row_share": round(sum("alice" in g for g in gold.values()) / n, 4),
            "delta_files_at_end": self._delta_files(),
            "merged_triples_at_end": getattr(self, "merged_triples", None),
        }

    def _delta_files(self) -> int:
        return _tree_bytes_files(os.path.join(self.wh, "triple_deltas"))[0]

    def report(self) -> dict:
        return {}

    def layer_counts(self) -> dict:
        return {"stream.delta_files": self._delta_files()}


WORKLOADS = {w.name: w for w in (SynthWorkload, CodeWorkload, StreamWorkload)}


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0

