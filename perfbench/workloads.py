"""The workloads: inputs, set-up, one timed step, and its checks.

Every workload drives the engine only through its public functions. A step
is one closed-loop operation of the single client (or, for online_serving,
one tick of the write path followed by a run of lookups); it returns its
samples and is checked right after it ran, outside the timed region. A
wrong answer counts as a failed operation.
"""

from __future__ import annotations

import glob
import os
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from perfbench import inputs
from perfbench.spans import Tracer, node_output_rows

from alibaba_cppfeaturestore_spark.functions.text import clean_text, lang_id, quality_score, redact_pii
from alibaba_cppfeaturestore_spark.operators import dedup
from alibaba_cppfeaturestore_spark.operators.dictionary import encode_with_dictionaries, fit_dictionaries
from alibaba_cppfeaturestore_spark.operators.ranks import release_persisted
from alibaba_cppfeaturestore_spark.plans import aliccp
from alibaba_cppfeaturestore_spark.plans.feature_views import FeatureStore, FeatureView
from alibaba_cppfeaturestore_spark.sources.readers import read_csv, read_parquet
from alibaba_cppfeaturestore_spark.sources.writers import write_table
from alibaba_cppfeaturestore_spark.streaming.pipeline import OnlineStore, run_stream_upsert, stream_from_parquet

JOIN_NODES = ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin", "BroadcastNestedLoopJoin")


@dataclass
class Step:
    """Samples of one step, or of several added up. ``seconds`` is the
    operation time (checks excluded); ``rows`` the input rows finished, in
    ``row_seconds`` of it."""

    seconds: float = 0.0
    rows: int = 0
    row_seconds: float = 0.0
    latencies_ms: list = field(default_factory=list)
    freshness_ms: list = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)

    @classmethod
    def one_pass(cls, seconds: float, rows: int) -> "Step":
        """A batch operation: one pass is the latency sample, and its input
        landing to its output readable is the freshness sample."""
        return cls(seconds=seconds, rows=rows, row_seconds=seconds,
                   latencies_ms=[seconds * 1e3], freshness_ms=[seconds * 1e3])

    def add(self, other: "Step") -> "Step":
        self.seconds += other.seconds
        self.rows += other.rows
        self.row_seconds += other.row_seconds
        self.latencies_ms += other.latencies_ms
        self.freshness_ms += other.freshness_ms
        self.attempted += other.attempted
        self.failed += other.failed
        self.errors += other.errors
        return self

    def verdict(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def _parquet_rows(path: str) -> int:
    return sum(pq.ParquetFile(f).metadata.num_rows for f in glob.glob(os.path.join(path, "*.parquet")))


class Workload:
    name = ""
    corrupt = False  # tests set this to feed the checks a wrong answer
    warmup_steps = 1

    def __init__(self, spark, tracer: Tracer, input_dir: str, work_dir: str, seed: int, scale: float = 1.0):
        self.spark = spark
        self.tr = tracer
        self.input_dir = input_dir
        self.work_dir = work_dir
        self.seed = seed
        self.scale = scale
        self.rng = np.random.default_rng(seed)
        self.attrs: dict = {}  # per-layer figures the workload measures itself

    def sized(self, n: int) -> int:
        return max(int(n * self.scale), 50)

    def generate(self) -> None:
        raise NotImplementedError

    def setup(self) -> None:
        """Register sources and run the initial fit; repeated, the median
        counts toward ``setup_s``."""

    def warmup(self) -> Step:
        """Initial materialization and warm-up operations, once. Their
        checks count like those of timed operations; their times do not."""
        warm = Step()
        for _ in range(self.warmup_steps):
            warm.add(self.step())
        return warm

    def step(self) -> Step:
        raise NotImplementedError

    def measure(self, seconds: float) -> Step:
        """Closed loop: steps until ``seconds`` of operation time have passed."""
        total = Step()
        while total.seconds < seconds:
            total.add(self.step())
        return total

    def layer_attrs(self) -> dict:
        return self.attrs


# ------------------------------------------------------------------ aliccp


class AliccpBatch(Workload):
    name = "aliccp_batch"
    # No warm-up: a pass costs more than a run can spend twice, so the one
    # timed pass per run starts cold, the same way on every run.
    warmup_steps = 0
    SKELETON_SCHEMA = "_c0 string, _c1 string, _c2 string, _c3 string, _c4 string, _c5 string"
    COMMON_SCHEMA = "_c0 string, _c1 string, _c2 string"

    def generate(self) -> None:
        self.full = inputs.aliccp(self.rng, os.path.join(self.input_dir, "full"), self.sized(5_000))

    def _pass(self, inp: inputs.AliccpInputs, out: str) -> float:
        spark, tr = self.spark, self.tr
        silver_path, gold_path = os.path.join(out, "silver"), os.path.join(out, "gold")
        tr.new_trace()
        with tr.span("bench.op") as op:
            with tr.span("aliccp.bronze_to_silver") as sp:
                silver = aliccp.bronze_to_silver(
                    read_csv(spark, inp.skeleton_csv, schema=self.SKELETON_SCHEMA),
                    read_csv(spark, inp.common_csv, schema=self.COMMON_SCHEMA),
                )
                sp.built()
                write_table(silver, silver_path, mode="overwrite", fmt="parquet")
            with tr.span("dictionary.fit_dictionaries") as sp:
                silver = read_parquet(spark, silver_path)
                dicts = fit_dictionaries(
                    silver.select(*aliccp.GOLD_SELECT_COLUMNS).na.drop(), aliccp.CATEGORIFY_COLUMNS
                )
                sp.built()
                # The fit is lazy; counting one dictionary materializes the
                # shared vocabulary aggregate every column's rank reads.
                dicts[aliccp.CATEGORIFY_COLUMNS[0]].count()
            with tr.span("aliccp.silver_to_gold") as sp:
                gold = aliccp.silver_to_gold(silver, dicts, clock=_clock())
                sp.built()
                write_table(gold, gold_path, mode="overwrite", fmt="parquet")
            release_persisted()
        return op.duration_s

    def _check(self, inp: inputs.AliccpInputs, out: str, step: Step) -> None:
        silver_rows = _parquet_rows(os.path.join(out, "silver"))
        gold = pq.read_table(os.path.join(out, "gold"))
        got = inputs.arrow_digest(gold, inputs.GOLD_DIGEST_COLUMNS)
        if self.corrupt:
            got = (got[0], got[1] ^ 1)
        # fit and encode saw the same rows, so each vocabulary is the set of
        # indices in the Gold column
        vocab_rows = sum(len(pc.unique(gold.column(c))) for c in inputs.CATEGORIFY)
        problems = [
            f"{what} {a} != {b}"
            for what, a, b in (
                ("gold digest", got, inp.gold_digest),
                ("silver rows", silver_rows, inp.silver_rows),
                ("vocab rows", vocab_rows, inp.vocab_rows),
            )
            if a != b
        ]
        step.verdict(not problems, "; ".join(problems))
        self.attrs = {
            "aliccp.bronze_to_silver.keep_ratio": silver_rows / inp.n_rows,
            "dictionary.fit_dictionaries.vocab_rows": vocab_rows,
            "writers.bytes_written_mb": (_dir_bytes(os.path.join(out, "silver")) + _dir_bytes(os.path.join(out, "gold"))) / 1e6,
        }

    def step(self) -> Step:
        out = os.path.join(self.work_dir, "out")
        step = Step.one_pass(self._pass(self.full, out), self.full.n_rows)
        self._check(self.full, out, step)
        return step


def _clock():
    from pyspark.sql import functions as F

    return F.lit("2024-06-01 00:00:00").cast("timestamp")


# ---------------------------------------------------------------- training


class TrainingSet(Workload):
    name = "training_set"
    warmup_steps = 2  # the JIT keeps speeding up the as-of join over the first passes

    def generate(self) -> None:
        self.inp = inputs.training(
            self.rng, self.input_dir, self.sized(30_000), self.sized(5_000)
        )

    def setup(self) -> None:
        spark = self.spark
        features = read_parquet(spark, self.inp.features_parquet)
        self.fs = FeatureStore()
        self.fs.register(
            FeatureView("user", ["user_id_raw"], "datetime", inputs.USER_VIEW_FEATURES,
                        ttl=f"{inputs.USER_TTL_DAYS} days"), features)
        self.fs.register(
            FeatureView("item", ["item_id"], "datetime", inputs.ITEM_VIEW_FEATURES,
                        ttl=f"{inputs.ITEM_TTL_DAYS} days"), features)
        self.entities = read_parquet(spark, self.inp.entities_parquet)

    def step(self) -> Step:
        tr = self.tr
        tr.new_trace()
        with tr.span("bench.op") as op:
            with tr.span("feature_views.get_historical_features") as sp:
                df = self.fs.get_historical_features(self.entities, ["user", "item"])
                sp.built()
                table = df.toArrow()
        step = Step.one_pass(op.duration_s, self.inp.n_entities)
        got = inputs.arrow_digest(table, inputs.TRAINING_COLUMNS)
        if self.corrupt:
            got = (got[0] - 1, got[1])
        step.verdict(got == self.inp.digest, f"training set digest {got} != {self.inp.digest}")
        if tr.counters:
            rows = node_output_rows(self.spark, sp.group, JOIN_NODES)
            self.attrs = {"joins.asof.candidate_rows_per_entity": rows / self.inp.n_entities}
        return step


# ------------------------------------------------------------------ online


class OnlineServing(Workload):
    name = "online_serving"
    # The reference's stream runs a 10 s processing-time trigger fed by a
    # producer of one event per 2 s, so each micro-batch holds 5 events. One
    # step is one trigger period: land a micro-batch and upsert it, then
    # lookups back to back until TRIGGER_S of operation time have passed.
    TRIGGER_S = 10.0
    EVENTS_PER_TRIGGER = 5
    WARMUP_LOOKUPS = 3

    def generate(self) -> None:
        self.inp = inputs.online(
            self.rng, self.input_dir, n_users=self.sized(5_000), base_rows=self.sized(20_000),
            batch_rows=self.EVENTS_PER_TRIGGER, keys_per_request=10, seed=self.seed,
        )
        self.requests = np.random.default_rng([self.seed, 2])
        self.tick = 0
        self.events = 0
        self.written = 0

    def setup(self) -> None:
        base = read_parquet(self.spark, self.inp.base_parquet)
        with self.tr.span("dictionary.fit_dictionaries") as sp:
            self.dicts = fit_dictionaries(base, inputs.ONLINE_ENCODED)
            sp.built()
            # the fit is lazy; one count materializes the shared vocabulary aggregate
            self.dicts[inputs.ONLINE_ENCODED[0]].count()

    def warmup(self) -> Step:
        """Materialize the online table from the base table, register the
        view on it, then run one tick through the stream and a few lookups,
        so the first timed tick is no colder than the others."""
        spark, dicts = self.spark, self.dicts
        root = os.path.join(self.work_dir, "online")
        self.src = os.path.join(root, "src")
        self.staging = os.path.join(root, "staging")
        os.makedirs(self.src)
        os.makedirs(self.staging)
        base_table = pq.read_table(self.inp.base_parquet)
        self.transform = lambda df: encode_with_dictionaries(df, dicts)
        self.stream = stream_from_parquet(spark, self.src, schema=read_parquet(spark, self.inp.base_parquet).schema)
        self.store = OnlineStore(os.path.join(root, "store"), keys=[inputs.ONLINE_KEY], ts="datetime")
        self.checkpoint = os.path.join(root, "checkpoint")
        self.store.upsert_batch(self.transform(read_parquet(spark, self.inp.base_parquet)))
        table = self.store.read(spark)
        self.features = [c for c in table.columns if c not in (inputs.ONLINE_KEY, "datetime")]
        self.view = FeatureView("user_online", [inputs.ONLINE_KEY], "datetime", self.features)
        self.fs = FeatureStore()
        self.fs.register(self.view, table)
        self.model = inputs.OnlineModel(self.inp.dictionaries, [c for c in table.columns if c != inputs.ONLINE_KEY])
        self.model.apply(base_table)
        warm = Step()
        self._tick(warm)
        for _ in range(self.WARMUP_LOOKUPS):
            self._lookup(warm, self.inp.request(self.requests))
        return warm

    def _land(self, table: pa.Table, name: str) -> float:
        """Write a micro-batch file, then move it into the stream's source
        directory; returns the moment it landed."""
        staged = os.path.join(self.staging, f"{name}.parquet")
        pq.write_table(table, staged)
        os.replace(staged, os.path.join(self.src, f"{name}.parquet"))
        return time.perf_counter()

    def _lookup(self, step: Step, keys: list[int]) -> float:
        spark, tr = self.spark, self.tr
        tr.new_trace()
        with tr.span("feature_views.get_online_features") as sp:
            request = spark.createDataFrame([(k,) for k in keys], f"{inputs.ONLINE_KEY} int")
            out = self.fs.get_online_features(request, self.view.name)
            sp.built()
            rows = out.collect()
        got = {r[inputs.ONLINE_KEY]: tuple(r[f] for f in self.features) for r in rows}
        if self.corrupt and rows:
            got[keys[0]] = ("wrong",)
        want = {k: self.model.expected(k, self.features) or (None,) * len(self.features) for k in keys}
        step.verdict(len(rows) == len(keys) and got == want, f"lookup {keys}: {got} != {want}")
        step.latencies_ms.append(sp.duration_s * 1e3)
        step.seconds += sp.duration_s
        # the reader's throughput: in the deployed system the stream writes
        # beside the client, not in its time, so a tick's time counts toward
        # freshness only
        step.rows += len(keys)
        step.row_seconds += sp.duration_s
        return sp.end

    def step(self) -> Step:
        """One trigger period: a tick of the write path, whose lookup
        includes keys of the new batch, then lookups until TRIGGER_S of
        operation time have passed since the batch landed."""
        step = Step()
        self._tick(step)
        while step.seconds < self.TRIGGER_S:
            self._lookup(step, self.inp.request(self.requests))
        return step

    def _tick(self, step: Step) -> None:
        self.tick += 1
        batch = self.inp.batch(self.tick)
        self.model.apply(batch)
        fresh_keys = np.unique(batch.column(inputs.ONLINE_KEY).to_numpy())[:2]
        tmp_before = set(glob.glob(self.store.path + "__tmp_*"))
        self.tr.new_trace()
        landed = self._land(batch, f"tick-{self.tick:06d}")
        with self.tr.span("streaming.run_stream_upsert") as sp:
            sp.built()
            run_stream_upsert(self.stream, self.store, self.checkpoint, self.transform)
            self.fs.register(self.view, self.store.read(self.spark))
        step.seconds += time.perf_counter() - landed
        readable = self._lookup(step, self.inp.request(self.requests, fresh_keys))
        step.freshness_ms.append((readable - landed) * 1e3)
        # the whole online table against the model, read straight from disk
        stored = pq.read_table(self.store.path)
        got = inputs.arrow_digest(stored, [inputs.ONLINE_KEY, *self.model.columns])
        step.verdict(got == self.model.digest(), f"online table digest {got} != {self.model.digest()}")
        new_tmp = set(glob.glob(self.store.path + "__tmp_*")) - tmp_before
        self.written += _dir_bytes(self.store.path) + sum(_dir_bytes(d) for d in new_tmp)
        self.events += batch.num_rows

    def layer_attrs(self) -> dict:
        return {
            "streaming.online_store.bytes_written_per_event": self.written / max(self.events, 1),
            "streaming.online_store.leftover_tmp_dirs": len(glob.glob(self.store.path + "__tmp_*")),
        }


# ------------------------------------------------------------------ corpus


class CorpusCuration(Workload):
    name = "corpus_curation"

    def generate(self) -> None:
        self.full = inputs.corpus(self.rng, os.path.join(self.input_dir, "full"), self.sized(800))

    def _pass(self, inp: inputs.CorpusInputs, out: str):
        spark, tr = self.spark, self.tr
        gated_path, exact_path = os.path.join(out, "gated"), os.path.join(out, "exact")
        tr.new_trace()
        with tr.span("bench.op") as op:
            with tr.span("text.gates") as sp:
                docs = read_parquet(spark, inp.docs_parquet).withColumn("text", clean_text("text"))
                gated = docs.where(
                    (lang_id("text") == "en") & (quality_score("text") >= inputs.QUALITY_MIN)
                ).withColumn("text", redact_pii("text"))
                sp.built()
                write_table(gated, gated_path, mode="overwrite", fmt="parquet")
            with tr.span("dedup.exact_dedup") as sp:
                kept = dedup.exact_dedup(read_parquet(spark, gated_path), cols=["text"], id_col="doc_id")
                sp.built()
                write_table(kept, exact_path, mode="overwrite", fmt="parquet")
            with tr.span("dedup.minhash_lsh") as lsh:
                pairs = dedup.minhash_lsh_duplicates(read_parquet(spark, exact_path), "text", "doc_id")
                lsh.built()
                table = pairs.toArrow()
            release_persisted()
        return op.duration_s, table, lsh

    def _check(self, inp: inputs.CorpusInputs, out: str, table: pa.Table, lsh, step: Step) -> None:
        gated = _parquet_rows(os.path.join(out, "gated"))
        exact = _parquet_rows(os.path.join(out, "exact"))
        found = set(zip(table.column("id_a").to_pylist(), table.column("id_b").to_pylist()))
        if self.corrupt:
            exact += 1
        recall = len(found & inp.planted_pairs) / len(inp.planted_pairs) if inp.planted_pairs else 1.0
        strays = [p for p in found if inp.groups.get(p[0], -p[0]) != inp.groups.get(p[1], -p[1])]
        problems = []
        if gated != inp.gated:
            problems.append(f"gated {gated} != {inp.gated}")
        if exact != inp.exact_survivors:
            problems.append(f"exact survivors {exact} != {inp.exact_survivors}")
        if recall < 0.9:
            problems.append(f"planted near-copy recall {recall:.3f} < 0.9")
        if strays:
            problems.append(f"{len(strays)} pairs outside any planted group, e.g. {strays[:3]}")
        step.verdict(not problems, "; ".join(problems))
        self.attrs = {"dedup.minhash_lsh.planted_recall": recall}
        if self.tr.counters:
            # both verify joins (id_a, then id_b) emit one row per candidate pair
            candidates = node_output_rows(self.spark, lsh.group, JOIN_NODES) / 2
            self.attrs["dedup.minhash_lsh.candidate_pairs_per_doc"] = candidates / max(exact, 1)
            self.attrs["dedup.minhash_lsh.verified_ratio"] = len(found) / max(candidates, 1)

    def step(self) -> Step:
        out = os.path.join(self.work_dir, "out")
        seconds, table, lsh = self._pass(self.full, out)
        step = Step.one_pass(seconds, self.full.n_docs)
        self._check(self.full, out, table, lsh, step)
        return step


# ------------------------------------------------------------------- batch


class BatchEtl(Workload):
    """The batch pipelines as one job of a fresh process: an aliccp_batch
    pass, a training_set pass, then a corpus_curation pass. A pass of
    aliccp is mostly fixed cost (aliccp.silver_to_gold alone runs a few
    hundred jobs), so each run times one cold job, as a scheduled batch job
    runs; the training set's sources are registered in set-up."""

    name = "batch_etl"
    warmup_steps = 0

    def __init__(self, spark, tracer: Tracer, input_dir: str, work_dir: str, seed: int, scale: float = 1.0):
        super().__init__(spark, tracer, input_dir, work_dir, seed, scale)
        self.parts = [
            cls(spark, tracer, os.path.join(input_dir, cls.name), os.path.join(work_dir, cls.name), seed, scale)
            for cls in (AliccpBatch, TrainingSet, CorpusCuration)
        ]

    def generate(self) -> None:
        for part in self.parts:
            part.generate()

    def _share(self) -> None:
        for part in self.parts:
            part.spark, part.tr, part.corrupt = self.spark, self.tr, self.corrupt

    def setup(self) -> None:
        self._share()
        for part in self.parts:
            part.setup()

    def step(self) -> Step:
        self._share()
        step = Step()
        for part in self.parts:
            step.add(part.step())
        step.latencies_ms = [step.seconds * 1e3]
        step.freshness_ms = [step.seconds * 1e3]
        return step

    def measure(self, seconds: float) -> Step:
        """One job, however long it takes: a second one would run warm and
        time something else."""
        return self.step()

    def layer_attrs(self) -> dict:
        return {k: v for part in self.parts for k, v in part.layer_attrs().items()}


WORKLOADS = {w.name: w for w in (AliccpBatch, TrainingSet, OnlineServing, CorpusCuration, BatchEtl)}
