"""The benchmark's workloads: set-up, the timed op, and the traced
layer-by-layer pipeline.

Each workload is a closed loop with one client: an op starts when the
previous one has ended. Every op is checked; an op that raises or
whose output differs from its reference counts as failed.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph_rag_agent_spark.core.stub_extract import stub_extract
from graph_rag_agent_spark.plans.build import BuildConfig, build_all
from graph_rag_agent_spark.plans.incremental import incremental_update
from graph_rag_agent_spark.plans.inmem import build_kg_tables
from graph_rag_agent_spark.sources.transcripts import load_transcripts

from . import checks, gen
from .trace import Tracer, cpu_times, log

# conversation buckets of the warehouse, so incremental cycles take the
# delta-proportional MERGE path; one bucket per core of the box the
# benchmark was sized on
BUCKETS = 4

SPECS = {
    "full_build": {
        "bench": gen.CorpusSpec(n_convs=100, mega_share=0.1, dup_share=0.1),
        "tiny": gen.CorpusSpec(n_convs=12, mega_share=0.1),
    },
    "delta_1pct": {
        "bench": gen.CorpusSpec(n_convs=100, mega_share=0.1, delta_fraction=0.01),
        "tiny": gen.CorpusSpec(n_convs=12, mega_share=0.1, delta_fraction=0.1),
    },
}


def counting_extractor(acc):
    """The stub extractor, counting its calls in a Spark accumulator."""

    def extract(text: str) -> str:
        acc.add(1)
        return stub_extract(text)

    return extract


def tree_size(path: str, since: float = 0.0) -> tuple[int, int]:
    """(bytes, files) of the files under ``path`` modified at or after
    ``since``."""
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            st = os.stat(os.path.join(root, n))
            if st.st_mtime >= since:
                size += st.st_size
                files += 1
    return size, files


def lineage(warehouse: str, spark, since: float) -> dict[str, tuple[float, int]]:
    """(summed wall seconds, summed rows) per stage of the warehouse
    ``lineage`` table, for rows that started at or after ``since``."""
    lin = spark.read.parquet(os.path.join(warehouse, "lineage")).where(
        F.col("started_at").cast("double") >= since
    )
    span = F.col("finished_at").cast("double") - F.col("started_at").cast("double")
    rows = lin.groupBy("stage").agg(F.sum(span).alias("s"), F.sum("rows").alias("n")).collect()
    return {r["stage"]: (float(r["s"]), int(r["n"] or 0)) for r in rows}


@dataclass
class Result:
    """What a workload hands back to run.py."""

    attempted: int = 0
    failed: int = 0
    checks_ok: bool = True
    op_s: list[float] = field(default_factory=list)
    calls: list[int] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=dict)
    record: dict = field(default_factory=dict)

    def add(self, name: str, value: float) -> None:
        self.layers[name] = self.layers.get(name, 0) + value


class Workload:
    """``prepare`` generates inputs and oracle answers without Spark
    (run.py overlaps it with session start); ``attach`` hands over the
    session; ``setup`` and ``run`` follow."""

    name = ""

    def __init__(self, size: str, seed: int, work: str):
        self.spec = SPECS[self.name][size]
        self.seed = seed
        self.work = work
        self.res = Result()

    def attach(self, spark, tracer: Tracer) -> None:
        self.spark = spark
        self.tracer = tracer
        self.traced = tracer.sc is not None
        self.acc = spark.sparkContext.accumulator(0)
        self.extractor = counting_extractor(self.acc)

    def load(self, cols: dict, label: str) -> DataFrame:
        path = os.path.join(self.work, f"input-{label}.parquet")
        gen.write_parquet(cols, path)
        with self.tracer.span("sources.transcripts"):
            df = load_transcripts(self.spark, path).localCheckpoint()
            self.res.add("sources.transcripts.rows_out", df.count())
        return df

    def cfg(self, warehouse: str) -> BuildConfig:
        # one extraction bucket: the default eight are resume
        # granularity for large corpora. Here each would hold about 14
        # chunks, and their per-bucket checkpoints and writes took a
        # quarter of a build_all, more than the run budget can carry
        return BuildConfig(
            warehouse=warehouse, resume=False, extraction_buckets=1, bucket_convs=BUCKETS,
            extractor=self.extractor,
        )

    def fail(self, what: str) -> None:
        print(f"[perfbench] check failed: {what}", flush=True)
        self.res.checks_ok = False

    def check_oracle(self, answer: dict, tables: dict, label: str) -> bool:
        """The built tables of snapshot ``label`` against the oracle."""
        pr, differ = checks.oracle_check(answer, tables)
        self.res.record[f"oracle_pr_{label}"] = pr
        self.res.record[f"oracle_differs_{label}"] = differ
        if differ:
            self.fail(f"snapshot {label}: {', '.join(differ)} differ from the oracle "
                      f"(triple P/R {pr[0]}/{pr[1]})")
        return not differ

    def describe(self, cols: dict, answer: dict) -> None:
        self.res.record.update(
            turns=len(cols["conv_id"]),
            conversations=len(set(cols["conv_id"])),
            chunks=answer["chunks"],
            distinct_chunks=answer["distinct_chunks"],
            catalog_size=answer["catalog_size"],
        )

    def loop(self, seconds: float, op) -> None:
        """Run ``op`` back to back until ``seconds`` have passed (at
        least once). An op that raises counts as failed."""
        t_end = time.time() + seconds
        i = 0
        while True:
            self.res.attempted += 1
            ok = False
            try:
                ok = op(i)
            except Exception:
                traceback.print_exc()
            if not ok:
                self.res.failed += 1
            i += 1
            if time.time() >= t_end:
                return

    def layer_pipeline(self, transcripts: DataFrame, ref: dict) -> None:
        """The build's operators in pipeline order, a barrier after
        each, one span per layer (as scripts/profile_stages.py does).
        Its output must equal the op's reference tables."""
        from graph_rag_agent_spark.operators.canonicalize import (
            canonical_entities,
            resolve_canonical,
            rewrite_mentions,
            rewrite_triples,
        )
        from graph_rag_agent_spark.operators.chunking import chunk_conversations
        from graph_rag_agent_spark.operators.community import (
            community_catalog,
            detect_communities,
        )
        from graph_rag_agent_spark.operators.components import (
            connected_components,
            consecutive_component_ids,
        )
        from graph_rag_agent_spark.operators.dedup import chunk_signature_columns
        from graph_rag_agent_spark.operators.extraction import extract_chunks
        from graph_rag_agent_spark.operators.linking import (
            entity_catalog,
            similar_entities,
            with_embeddings,
        )
        from graph_rag_agent_spark.operators.parsing import (
            entities_raw,
            mentions_raw,
            parse_extractions,
            triples_raw,
        )

        L = self.res.layers

        def barrier(layer: str, fn):
            with self.tracer.span(layer):
                out = fn()
                dfs = out if isinstance(out, tuple) else (out,)
                dfs = tuple(d.localCheckpoint() for d in dfs)
                self.res.add(f"{layer}.rows_out", sum(d.count() for d in dfs))
            return dfs if isinstance(out, tuple) else dfs[0]

        chunks = barrier("operators.chunking", lambda: chunk_conversations(transcripts))
        barrier("operators.dedup", lambda: chunk_signature_columns(chunks))
        calls0 = self.acc.value
        ex = barrier(
            "operators.extraction",
            lambda: extract_chunks(chunks, extractor=self.extractor),
        )
        L["operators.extraction.calls"] = self.acc.value - calls0
        d = chunks.agg(F.count("*").alias("n"), F.countDistinct("chunk_id").alias("k")).first()
        L["operators.extraction.distinct_ratio"] = d["k"] / d["n"]
        parsed = barrier("operators.parsing", lambda: parse_extractions(ex))
        e_raw, t_raw, m_raw = barrier(
            "operators.parsing",
            lambda: (entities_raw(parsed), triples_raw(parsed), mentions_raw(parsed)),
        )
        with self.tracer.span("operators.linking"):
            embedded = with_embeddings(entity_catalog(e_raw, chunks)).localCheckpoint()
            similar = similar_entities(embedded, method="auto").localCheckpoint()
            n_catalog = embedded.count()
            n_pairs = similar.count()
        L["operators.linking.rows_out"] = n_pairs
        L["operators.linking.pairs_out"] = n_pairs
        wcc = barrier(
            "operators.components",
            lambda: consecutive_component_ids(
                connected_components(
                    similar.select("src", "dst"), nodes=embedded.select("entity_id")
                )
            ).select(F.col("node").alias("entity_id"), "wcc"),
        )
        cmap = barrier("operators.canonicalize", lambda: resolve_canonical(wcc))
        triples, mentions, entities = barrier(
            "operators.canonicalize",
            lambda: (
                rewrite_triples(t_raw, cmap),
                rewrite_mentions(m_raw, cmap),
                canonical_entities(embedded.join(wcc, "entity_id", "left"), cmap).select(
                    "entity_id", "entity_type", "description", "embedding", "wcc"
                ),
            ),
        )
        L["operators.canonicalize.merge_ratio"] = n_catalog / max(1, entities.count())
        membership, _hierarchy = barrier(
            "operators.community", lambda: detect_communities(entities, triples)
        )
        barrier(
            "operators.community",
            lambda: community_catalog(membership, entities, triples, mentions),
        )
        got = checks.digests(
            {"triples": triples, "entities": entities, "canonical_map": cmap,
             "membership": membership}
        )
        if got != ref:
            self.fail("layer-by-layer pipeline output differs from the reference build")


class FullBuild(Workload):
    """Each op is one ``build_all`` into a fresh bucketed warehouse. The
    first op runs in a fresh session, as a bootstrap job does."""

    name = "full_build"

    def prepare(self) -> None:
        self.cols = gen.generate(self.spec, self.seed)
        self.answer = checks.oracle_answer(gen.rows(self.cols))
        self.describe(self.cols, self.answer)

    def setup(self) -> None:
        self.transcripts = self.load(self.cols, "a")
        self.ref = None

    def op(self, i: int) -> bool:
        wh = os.path.join(self.work, f"wh-{i}")
        calls0 = self.acc.value
        cpu0 = cpu_times()["busy"]
        t0 = time.time()
        with self.tracer.span("plans.build"):
            res = build_all(self.spark, self.transcripts, self.cfg(wh))
        self.res.op_s.append(time.time() - t0)
        self.res.record.setdefault("op_cpu_s", []).append(cpu_times()["busy"] - cpu0)
        self.res.calls.append(self.acc.value - calls0)
        log(f"build_all: {self.res.op_s[-1]:.2f}s")
        size, files = tree_size(wh)
        self.res.record.setdefault("bytes_written_mb", []).append(size / 1e6)
        if self.traced:
            for stage, (s, _n) in lineage(wh, self.spark, t0).items():
                self.res.add(f"plans.build.stage.{stage}.wall_s", s)
            self.res.add("plans.merge.written_mb", size / 1e6)
            self.res.add("plans.merge.files", files)
        got = checks.digests(res.tables)
        ok = True
        if i == 0:
            # the first op's tables are the run's reference, so they
            # must first match the oracle
            ok = self.check_oracle(self.answer, res.tables, "a")
            self.ref = self.res.record["digests"] = got
        shutil.rmtree(wh, ignore_errors=True)
        if got != self.ref:
            self.fail(f"op {i}: build_all tables differ from the first op's")
        return ok and got == self.ref

    def run(self, seconds: float) -> Result:
        self.loop(seconds, self.op)
        if self.traced:
            self.layer_pipeline(self.transcripts, self.ref)
        return self.res


class Delta1Pct(Workload):
    """Set-up bootstraps a warehouse on snapshot A. Ops alternate
    A -> B -> A: B drops the last turn of ~1% of the conversations and
    the next op restores it. Each op is the 1% ``incremental_update``
    followed by one zero-change cycle on the same snapshot."""

    name = "delta_1pct"

    def prepare(self) -> None:
        self.cols = {"a": gen.generate(self.spec, self.seed)}
        self.changed = gen.delta_convs(self.spec, self.seed, self.cols["a"])
        self.cols["b"] = gen.drop_last_turns(self.cols["a"], self.changed)
        self.answer = checks.oracle_answer(gen.rows(self.cols["a"]))
        self.describe(self.cols["a"], self.answer)
        self.res.record["changed_conversations"] = len(self.changed)

    def reference_b(self) -> tuple[dict, bool]:
        """The digests of a fresh build of snapshot B by the
        warehouse-free composition of the same operator graph, and
        whether that build matches the oracle."""
        tables = build_kg_tables(self.snap["b"], with_communities=True)
        ok = self.check_oracle(checks.oracle_answer(gen.rows(self.cols["b"])), tables, "b")
        return checks.digests(tables), ok

    def setup(self) -> None:
        self.snap = {s: self.load(c, s) for s, c in self.cols.items()}
        self.wh = os.path.join(self.work, "wh")
        # snapshot B's reference builds alongside the bootstrap, which
        # keeps the run within its time budget. Neither is in a span,
        # so traced and untraced runs set up the same way and no layer
        # metric holds set-up work.
        with ThreadPoolExecutor(1) as pool:
            ref_b = pool.submit(self.reference_b)
            res = build_all(self.spark, self.snap["a"], self.cfg(self.wh))
            log("bootstrap done")
            self.ref = {"a": checks.digests(res.tables)}
            ok_a = self.check_oracle(self.answer, res.tables, "a")
            self.ref["b"], ok_b = ref_b.result()
        # the ops are checked against these references, so if either
        # differs from the oracle, every op fails
        self.refs_ok = ok_a and ok_b
        self.res.record["digests"] = self.ref
        self.current = "a"

    def cycle(self, target: str, span: str):
        """One incremental cycle to ``target``: (seconds, tables, calls)."""
        calls0 = self.acc.value
        t0 = time.time()
        with self.tracer.span(span):
            out = incremental_update(self.spark, self.snap[target], self.wh, cfg=self.cfg(self.wh))
        return time.time() - t0, out, self.acc.value - calls0

    def op(self, i: int) -> bool:
        target = "b" if self.current == "a" else "a"
        cpu0 = cpu_times()["busy"]
        t0 = time.time()
        cycle_s, out, calls = self.cycle(target, "plans.incremental.cycle")
        self.res.op_s.append(cycle_s)
        self.res.record.setdefault("op_cpu_s", []).append(cpu_times()["busy"] - cpu0)
        self.res.calls.append(calls)
        log(f"cycle to {target}: {cycle_s:.2f}s")
        size, files = tree_size(self.wh, since=t0)
        self.res.record.setdefault("bytes_written_mb", []).append(size / 1e6)
        if self.traced:
            self.res.add("plans.merge.written_mb", size / 1e6)
            self.res.add("plans.merge.files", files)
            stages = lineage(self.wh, self.spark, t0)
            for stage, (s, _n) in stages.items():
                self.res.add(f"plans.incremental.stage.{stage}.wall_s", s)
            rewritten = sum(
                stages.get(s, (0, 0))[1]
                for s in ("incr_triples_rewrite", "incr_mentions_rewrite", "incr_entities_merge")
            )
            total = sum(out[t].count() for t in ("triples", "mentions", "entities"))
            self.res.record.setdefault("scope_ratio", []).append(rewritten / max(1, total))
        noop_s, out, _ = self.cycle(target, "plans.incremental.noop")
        self.res.record.setdefault("noop_cycle_s", []).append(noop_s)
        self.current = target
        ok = checks.digests(out) == self.ref[target]
        if not ok:
            self.fail(f"op {i}: warehouse after the cycle to snapshot {target} "
                      "differs from a fresh build of it")
        return ok and self.refs_ok

    def run(self, seconds: float) -> Result:
        self.loop(seconds, self.op)
        if self.traced:
            self.res.layers["plans.incremental.scope_ratio"] = statistics.median(
                self.res.record["scope_ratio"]
            )
        return self.res


WORKLOADS = {w.name: w for w in (FullBuild, Delta1Pct)}
