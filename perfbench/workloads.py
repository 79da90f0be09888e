"""The four benchmark workloads.

Each workload generates its input from the seed (``generate``), computes
its reference answer once, untimed (``prepare``), and then runs one
operation per call of ``op``: a call into the package's public
functions, timed from outside, followed by a check of the output.

In the traced run ``op`` gets a ``Tracer`` and opens one span per call
into a package module; ``decompose`` then calls the stage functions one
at a time for the splits a fused Spark plan does not show, and
``layer_metrics`` turns spans, the event log and streaming progress into
the per-layer metrics.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass

import duckdb
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import gen
from portuguese_pt_legal_ner_spark import cache
from portuguese_pt_legal_ner_spark.operators import dedup
from portuguese_pt_legal_ner_spark.operators import graph as graph_ops
from portuguese_pt_legal_ner_spark.operators.graph import (
    edges_table,
    entities_table,
    resolve_entities,
)
from portuguese_pt_legal_ner_spark.operators.linking import link_surfaces
from portuguese_pt_legal_ner_spark.operators.mentions import detect_mentions
from portuguese_pt_legal_ner_spark.operators.triples import lift_triples
from portuguese_pt_legal_ner_spark.oracle_kg import triples_for_corpus
from portuguese_pt_legal_ner_spark.plans.pipeline import KGPipeline, extract_triples
from portuguese_pt_legal_ner_spark.sources.tables import alias_dict_df
from portuguese_pt_legal_ner_spark.streaming.neardup import stream_neardup_pairs
from tracing import EventLog, StreamProgress, Tracer

_HASH_MOD = 2**31 - 1


@dataclass
class Op:
    seconds: float  # timed part only; output checks are not in it
    items: int  # triples or documents the operation produced or processed
    ok: bool
    # completing the output from what the program persisted, as after a
    # kill: see each workload's ``op``
    resume_seconds: float = 0.0


def checksum(df: DataFrame) -> tuple[int, int]:
    """Order-independent (row count, hash sum) of a table."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.pmod(F.xxhash64(*df.columns), F.lit(_HASH_MOD))).alias("h"),
    ).collect()[0]
    return row["n"], row["h"] or 0


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def _oracle_clusters(con, sql: str, doc_ids: list[int]) -> frozenset:
    """(doc_id, cluster_id) rows of a DuckDB clusters text.

    The text's verified pairs (its ``ver`` CTE) run in DuckDB as written;
    the transitive closure after them (``sym``/``reach``/``comp``: each
    document's cluster is the smallest id of its connected component)
    is replayed with a union-find here, since DuckDB's recursive CTE
    takes about a minute on a few thousand documents."""
    head = sql[: sql.index("sym AS (")].rstrip().rstrip(",")
    parent = {d: d for d in doc_ids}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in con.execute(head + "\nSELECT doc_a, doc_b FROM ver").fetchall():
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return frozenset((d, find(d)) for d in doc_ids)


def _span(tracer: Tracer | None, name: str, **attrs):
    return tracer.span(name, **attrs) if tracer else nullcontext({})


def _mean(xs) -> float:
    xs = list(xs)
    return statistics.fmean(xs) if xs else 0.0


def _dur(span: dict) -> float:
    return span["end"] - span["start"]


class Workload:
    name = ""
    min_warm = 2  # warm operations a run measures at least

    def __init__(self, spark, work: str, seed: int, cores: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.cores = cores
        self.input = ""
        self._n = 0
        self.ops_done = 0  # operations attempted so far; 0 in the cold one

    def fresh_dir(self, tag: str) -> str:
        self._n += 1
        return os.path.join(self.work, f"{tag}-{self._n}")

    def read_input(self) -> DataFrame:
        return self.spark.read.parquet(self.input)

    def generate(self, path: str) -> list[dict]:
        raise NotImplementedError

    def prepare(self, rows: list[dict]) -> None:
        raise NotImplementedError

    def op(self, tracer: Tracer | None = None) -> Op:
        raise NotImplementedError

    @contextmanager
    def instrumented(self, tracer: Tracer):
        """Wrappers around package functions for the traced operations."""
        yield

    def decompose(self, tracer: Tracer) -> None:
        with tracer.span("sources.scan"):
            noop(self.read_input())

    def layer_metrics(self, tracer: Tracer, log: EventLog, ops: list[dict],
                      progress: StreamProgress) -> dict:
        scan = tracer.named("sources.scan")[0]
        summary = log.summary(tracer.subtree(scan), _dur(scan))
        return {"sources.scan_s": _dur(scan),
                "sources.scan_rows": summary["records_read"]}


class KgExtract(Workload):
    """plans.pipeline.extract_triples over a transcripts parquet."""

    name = "kg_extract"
    min_warm = 4  # operations speed up over the first few; median of four
    N_CONVERSATIONS = 6000
    SAMPLE_CONVERSATIONS = 200
    KEY = ("conv_id", "turn_idx", "para_idx", "subj", "pred", "obj", "obj_start")

    def generate(self, path):
        rows = gen.legal_transcripts(self.N_CONVERSATIONS, self.seed)
        gen.write_parquet(rows, gen.TRANSCRIPTS_ARROW, path, 2 * self.cores)
        return rows

    def prepare(self, rows):
        conv_ids = sorted({r["conv_id"] for r in rows})
        rng = random.Random(f"kg_extract-sample:{self.seed}")
        self.sample = sorted(rng.sample(conv_ids, self.SAMPLE_CONVERSATIONS))
        picked = set(self.sample)
        self.expected = {
            tuple(t[k] for k in self.KEY)
            for t in triples_for_corpus([r for r in rows if r["conv_id"] in picked])
        }
        self.rows_in = len(rows)
        self.digest = None

    def op(self, tracer=None):
        t0 = time.perf_counter()
        with _span(tracer, "pipeline.extract_triples"):
            out = extract_triples(self.read_input())
            row = out.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.pmod(F.xxhash64(*out.columns), F.lit(_HASH_MOD))).alias("h"),
                F.collect_list(
                    F.when(F.col("conv_id").isin(self.sample), F.struct(*self.KEY))
                ).alias("sample"),
            ).collect()[0]
        secs = time.perf_counter() - t0
        digest = (row["n"], row["h"])
        self.digest = self.digest or digest
        ok = {tuple(r) for r in row["sample"]} == self.expected and digest == self.digest
        # extract_triples persists nothing, so a killed run resumes from scratch
        return Op(secs, row["n"], ok, resume_seconds=secs)

    def decompose(self, tracer):
        super().decompose(tracer)
        mentions_path = self.fresh_dir("decompose-mentions")
        with tracer.span("mentions"):
            detect_mentions(self.read_input(), passthrough=("role", "tool")).write.parquet(
                mentions_path
            )
        with tracer.span("triples"):
            noop(lift_triples(self.spark.read.parquet(mentions_path)))

    def layer_metrics(self, tracer, log, ops, progress):
        out = super().layer_metrics(tracer, log, ops, progress)
        m = tracer.named("mentions")[0]
        t = tracer.named("triples")[0]
        ms = log.summary(tracer.subtree(m), _dur(m))
        ts = log.summary(tracer.subtree(t), _dur(t))
        out.update({
            "mentions.s": _dur(m),
            "mentions.rows_in": self.rows_in,
            "mentions.rows_out": ms["records_written"],
            "mentions.python_task_s": ms["python_task_s"],
            "mentions.task_skew": ms["task_skew"],
            "triples.s": _dur(t),
            "triples.rows_out": self.digest[0],
            "triples.exchanges": ts["exchanges"],
            "triples.shuffle_bytes": ts["shuffle_bytes"],
        })
        return out


_STAGE_LAYER = {
    "mentions": "mentions",
    "triples": "triples",
    "resolution": "graph.resolve",
    "entities": "graph.entities",
    "edges": "graph.edges",
}


class KgGraph(Workload):
    """KGPipeline.run with the builtin alias dict into a fresh workdir,
    then a resume after the resolution, entities and edges outputs are
    deleted, as a kill during resolution would leave them."""

    name = "kg_graph"
    # about 107k distinct surfaces: past the package's 100k-edge gate, so
    # canonicalize takes its distributed connected-components loop
    N_CONVERSATIONS = 7000
    RERUN = ("resolution", "entities", "edges")

    def generate(self, path):
        rows = gen.high_card_transcripts(self.N_CONVERSATIONS, self.seed)
        gen.write_parquet(rows, gen.TRANSCRIPTS_ARROW, path, 2 * self.cores)
        return rows

    def prepare(self, rows):
        self.alias = alias_dict_df(self.spark)
        self.rows_in = len(rows)
        self.digest = None
        self.workdir = None
        self.meta: list[dict] = []

    def _outputs(self, workdir):
        return {s: checksum(self.spark.read.parquet(os.path.join(workdir, s)))
                for s in ("entities", "edges")}

    def op(self, tracer=None):
        if self.workdir:
            shutil.rmtree(self.workdir, ignore_errors=True)
        self.workdir = self.fresh_dir("kg")
        t0 = time.perf_counter()
        with _span(tracer, "pipeline.run"):
            pipe = KGPipeline(self.spark, self.workdir)
            pipe.run(self.read_input(), self.alias)
        secs = time.perf_counter() - t0
        with _span(tracer, "check"):
            fresh = self._outputs(self.workdir)
        self.meta = [r for r in pipe.read_meta("checkpoints") if r["status"] == "complete"]
        triples = next(r["rows_out"] for r in self.meta if r["stage"] == "triples")
        self.digest = self.digest or fresh
        ok = fresh == self.digest and triples > 0
        # the cold and first warm operations time the build alone: the
        # first warm resume still compiles, and spread twice as wide
        if self.ops_done < 2:
            return Op(secs, triples, ok)
        for stage in self.RERUN:
            shutil.rmtree(os.path.join(self.workdir, stage))
        t0 = time.perf_counter()
        with _span(tracer, "pipeline.resume"):
            pipe = KGPipeline(self.spark, self.workdir)
            pipe.run(self.read_input(), self.alias)
        resume_secs = time.perf_counter() - t0
        with _span(tracer, "check"):
            resumed = self._outputs(self.workdir)
        return Op(secs, triples, ok and resumed == fresh, resume_secs)

    @contextmanager
    def instrumented(self, tracer):
        run_stage = KGPipeline.run_stage
        components_auto = graph_ops.components_auto

        def traced_run_stage(pipe, stage, fn, inputs=None, partition_by=None):
            with tracer.span(_STAGE_LAYER[stage], skipped=pipe.is_complete(stage)):
                return run_stage(pipe, stage, fn, inputs, partition_by)

        def traced_components(edges, n_edges, checkpoint_dir=None):
            with tracer.span("canonicalize", edges=n_edges):
                return components_auto(edges, n_edges, checkpoint_dir)

        KGPipeline.run_stage = traced_run_stage
        graph_ops.components_auto = traced_components
        try:
            yield
        finally:
            KGPipeline.run_stage = run_stage
            graph_ops.components_auto = components_auto

    def decompose(self, tracer):
        super().decompose(tracer)
        read = lambda stage: self.spark.read.parquet(os.path.join(self.workdir, stage))  # noqa: E731
        with tracer.span("linking") as span:
            tiers = dict(
                link_surfaces(read("mentions"), self.alias).groupBy("tier").count().collect()
            )
            span.update(exact=tiers.get("exact", 0), lsh=tiers.get("lsh", 0))
        with tracer.span("pipeline.stages_noop"):
            with tracer.span("noop.mentions"):
                noop(detect_mentions(self.read_input(), passthrough=("role", "tool")))
            with tracer.span("noop.triples"):
                noop(lift_triples(read("mentions")))
            with tracer.span("noop.resolution"):
                registry: list[DataFrame] = []
                noop(resolve_entities(read("mentions"), self.alias,
                                      persist_registry=registry))
                for df in registry:
                    df.unpersist()
            with tracer.span("noop.entities"):
                noop(entities_table(read("resolution")))
            with tracer.span("noop.edges"):
                noop(edges_table(read("triples"), read("resolution"), salt_buckets=16))

    def layer_metrics(self, tracer, log, ops, progress):
        out = super().layer_metrics(tracer, log, ops, progress)
        runs = tracer.named("pipeline.run")
        resumes = tracer.named("pipeline.resume")
        in_runs = set().union(*(tracer.subtree(r) for r in runs))
        in_resumes = set().union(*(tracer.subtree(r) for r in resumes))

        def layer(name):
            spans = [s for s in tracer.named(name) if s["id"] in in_runs]
            summary = log.summary(set().union(*(tracer.subtree(s) for s in spans)),
                                  sum(map(_dur, spans)))
            return spans, summary

        n = len(runs)
        rows_out = {r["stage"]: r["rows_out"] for r in self.meta}
        mentions, ms = layer("mentions")
        triples, ts = layer("triples")
        canon, cs = layer("canonicalize")
        resolve, rs = layer("graph.resolve")
        ents, es = layer("graph.entities")
        edges, gs = layer("graph.edges")
        linking = tracer.named("linking")[0]
        noop_span = tracer.named("pipeline.stages_noop")[0]
        run_jobs = log.summary(in_runs, 0)["jobs"] / n
        noop_jobs = log.summary(tracer.subtree(noop_span), 0)["jobs"]
        surfaces = canon[0]["edges"] if canon else 0
        lsh_attempts = surfaces - linking["exact"]
        out.update({
            "mentions.s": sum(map(_dur, mentions)) / n,
            "mentions.rows_in": self.rows_in,
            "mentions.rows_out": rows_out["mentions"],
            "mentions.python_task_s": ms["python_task_s"] / n,
            "mentions.task_skew": ms["task_skew"],
            "triples.s": sum(map(_dur, triples)) / n,
            "triples.rows_out": rows_out["triples"],
            "triples.exchanges": ts["exchanges"] / n,
            "triples.shuffle_bytes": ts["shuffle_bytes"] / n,
            "linking.s": _dur(linking),
            "linking.surfaces": surfaces,
            "linking.exact_links": linking["exact"],
            "linking.lsh_attempts": lsh_attempts,
            "linking.lsh_links": linking["lsh"],
            "linking.lsh_hit_ratio": linking["lsh"] / lsh_attempts if lsh_attempts else 0.0,
            "canonicalize.s": sum(map(_dur, canon)) / n,
            "canonicalize.edges": surfaces,
            "canonicalize.jobs": cs["jobs"] / n,
            "graph.resolve_s": sum(map(_dur, resolve)) / n,
            "graph.entities_s": sum(map(_dur, ents)) / n,
            "graph.edges_s": sum(map(_dur, edges)) / n,
            "graph.entities_rows": rows_out["entities"],
            "graph.edges_rows": rows_out["edges"],
            "graph.broadcast_joins": (rs["bhj"] + es["bhj"] + gs["bhj"]) / n,
            "pipeline.run_s": _mean(map(_dur, runs)),
            "pipeline.resume_s": _mean(map(_dur, resumes)),
            "pipeline.resume_skip_s": sum(
                _dur(s) for s in tracer.spans if s["id"] in in_resumes and s.get("skipped")
            ) / len(resumes),
            "pipeline.overhead_s": _mean(map(_dur, runs)) - _dur(noop_span),
            "pipeline.extra_jobs": run_jobs - noop_jobs,
        })
        return out


class DocDedup(Workload):
    """The batch near-dup operators of operators.dedup over one corpus."""

    name = "doc_dedup"
    N_DOCS = 2000
    FLOOD_DOCS = 120
    INDEX_SHARE = 0.9
    SPANS = ("dedup.minhash", "dedup.minhash_md5", "dedup.simhash",
             "dedup.simhash_md5", "dedup.index", "dedup.assign")

    def generate(self, path):
        docs = gen.neardup_corpus(self.N_DOCS, self.seed, self.FLOOD_DOCS)
        gen.write_parquet(docs, gen.DOCS_ARROW, path, 2 * self.cores)
        return docs

    def prepare(self, docs):
        from __spark_entry__ import oracle_sql  # noqa: PLC0415

        sql = oracle_sql()
        doc_ids = [d["doc_id"] for d in docs]
        con = duckdb.connect()
        try:
            con.register("documents", pa.Table.from_pylist(docs, schema=gen.DOCS_ARROW))
            self.want_minhash_md5 = _oracle_clusters(
                con, sql["dedup_minhash_md5_clusters"], doc_ids
            )
            self.want_simhash_md5 = _oracle_clusters(
                con, sql["dedup_simhash_md5_clusters"], doc_ids
            )
        finally:
            con.close()
        self.split = int(self.N_DOCS * self.INDEX_SHARE)
        self.digest = None

    @staticmethod
    def _rows(df: DataFrame) -> frozenset:
        return frozenset((r["doc_id"], r["cluster_id"]) for r in df.collect())

    def op(self, tracer=None):
        docs = self.read_input()
        corpus = docs.filter(F.col("doc_id") < self.split)
        new = docs.filter(F.col("doc_id") >= self.split)
        index_path = self.fresh_dir("index")
        t0 = time.perf_counter()
        with _span(tracer, "dedup.minhash"):
            minhash = self._rows(dedup.minhash_dedup(docs, threshold=0.8))
        with _span(tracer, "dedup.minhash_md5"):
            minhash_md5 = self._rows(
                dedup.minhash_md5_dedup(docs, threshold=0.6, n_hashes=8, n_bands=4)
            )
        with _span(tracer, "dedup.simhash"):
            simhash = self._rows(dedup.simhash_dedup(docs, max_hamming=7, n_bands=8))
        with _span(tracer, "dedup.simhash_md5"):
            simhash_md5 = self._rows(dedup.simhash_md5_dedup(docs, max_hamming=3, n_bands=4))
        with _span(tracer, "dedup.index"):
            dedup.minhash_index(corpus, threshold=0.8).save(index_path)
        # the saved index is what a run killed after the build resumes from
        t_assign = time.perf_counter()
        with _span(tracer, "dedup.assign"):
            assigned = self._rows(dedup.minhash_assign_new(
                dedup.load_minhash_index(self.spark, index_path), new,
                threshold=0.8, corpus_docs=corpus,
            ))
        cache.release_tracked()
        secs = time.perf_counter() - t0
        resume_secs = time.perf_counter() - t_assign
        shutil.rmtree(index_path, ignore_errors=True)
        digest = (minhash, simhash, assigned)
        self.digest = self.digest or digest
        ok = (
            minhash_md5 == self.want_minhash_md5
            and simhash_md5 == self.want_simhash_md5
            and digest == self.digest
            and len(minhash) == len(simhash) == self.N_DOCS
        )
        return Op(secs, self.N_DOCS, ok, resume_secs)

    def decompose(self, tracer):
        super().decompose(tracer)
        with tracer.span("dedup.candidates") as span:
            registry: list[DataFrame] = []
            row = dedup.minhash_candidate_pairs(
                self.read_input(), persist_registry=registry
            ).agg(
                F.count(F.lit(1)).alias("candidates"),
                F.count(F.when(F.col("jaccard") >= 0.8, 1)).alias("pairs"),
            ).collect()[0]
            for df in registry:
                df.unpersist()
            span.update(candidates=row["candidates"], pairs=row["pairs"])

    def layer_metrics(self, tracer, log, ops, progress):
        out = super().layer_metrics(tracer, log, ops, progress)
        n = len(ops)
        for name in self.SPANS:
            out[f"{name}_s"] = sum(map(_dur, tracer.named(name))) / n
        ids = set().union(*(tracer.subtree(s) for name in self.SPANS
                            for s in tracer.named(name)))
        s = log.summary(ids, 0)
        cand = tracer.named("dedup.candidates")[0]
        scans = s["raw_scans"] + s["cached_scans"]
        out.update({
            "dedup.minhash_candidates": cand["candidates"],
            "dedup.minhash_pairs": cand["pairs"],
            "dedup.minhash_verify_ratio": (
                cand["pairs"] / cand["candidates"] if cand["candidates"] else 0.0
            ),
            "dedup.exchanges": s["exchanges"] / n,
            "dedup.raw_scans": s["raw_scans"] / n,
            "dedup.cached_scans": s["cached_scans"] / n,
            "dedup.cache_hit_ratio": s["cached_scans"] / scans if scans else 0.0,
            "dedup.smj_joins": s["smj"] / n,
            "dedup.shj_joins": s["shj"] / n,
            "dedup.shuffle_bytes": s["shuffle_bytes"] / n,
            "dedup.spill_bytes": s["spill_bytes"] / n,
        })
        return out


class StreamNeardup(Workload):
    """streaming.neardup.stream_neardup_pairs (AvailableNow) over a corpus
    written as one input file per core, then a catch-up run on the same
    checkpoint after one more file of newer documents lands."""

    name = "stream_neardup"
    min_warm = 1
    N_DOCS = 12000
    FLOOD_DOCS = 120
    NEW_SHARE = 1 / 8  # newest documents, held back for the catch-up run

    def generate(self, path):
        docs = gen.neardup_corpus(self.N_DOCS, self.seed, self.FLOOD_DOCS)
        self.split = int(self.N_DOCS * (1 - self.NEW_SHARE))
        rows = gen.stream_rows(docs)
        gen.write_parquet(rows[: self.split], gen.STREAM_DOCS_ARROW, path, self.cores)
        gen.write_parquet(rows[self.split :], gen.STREAM_DOCS_ARROW, f"{path}.new", 1)
        self.new_file = os.path.join(f"{path}.new", "part-00000.parquet")
        return docs

    def prepare(self, docs):
        from __spark_entry__ import oracle_sql  # noqa: PLC0415

        con = duckdb.connect()
        try:
            con.register("documents", pa.Table.from_pylist(docs, schema=gen.DOCS_ARROW))
            self.want = set(con.execute(oracle_sql()["stream_neardup_pairs"]).fetchall())
        finally:
            con.close()
        # doc_a < doc_b, so a pair is among the first files iff doc_b is
        self.want_first = {p for p in self.want if p[1] < self.split}
        self.progress_marks: list[tuple[int, int]] = []
        self.sink_rows: list[int] = []
        self.progress: StreamProgress | None = None
        self._queries = 0

    def _stream(self, tracer, span: str, out: str, ckp: str) -> float:
        t0 = time.perf_counter()
        with _span(tracer, span):
            stream_neardup_pairs(
                self.spark, self.input, out, ckp, max_hamming=3, n_bands=4,
                delay="365 days", delay_sec=365 * 86400,
                max_bucket_size=1_000_000, emit_once_per_pair=True,
            )
        secs = time.perf_counter() - t0
        if tracer and self.progress:
            self._queries += 1
            with _span(tracer, "listener_wait"):
                self.progress.wait_terminated(self._queries)
        return secs

    def _pairs(self, out: str) -> list[tuple]:
        return [tuple(r) for r in
                self.spark.read.parquet(out).select("doc_a", "doc_b", "hamming").collect()]

    def op(self, tracer=None):
        out, ckp = self.fresh_dir("pairs"), self.fresh_dir("checkpoint")
        added = os.path.join(self.input, "part-new.parquet")
        conf = self.spark.conf
        prev = conf.get("spark.sql.shuffle.partitions")
        # state partitions sized to the cluster, as the package's
        # stream_neardup_pairs registry query runs it
        conf.set("spark.sql.shuffle.partitions",
                 str(max(4, self.spark.sparkContext.defaultParallelism)))
        first = len(self.progress.progress) if self.progress else 0
        try:
            secs = self._stream(tracer, "streaming.neardup", out, ckp)
            if self.progress:
                self.progress_marks.append((first, len(self.progress.progress)))
            with _span(tracer, "check"):
                rows = self._pairs(out)
            if tracer:
                self.sink_rows.append(len(rows))
            ok = set(rows) == self.want_first
            resume_secs = 0.0
            if self.ops_done:  # the cold operation times the first run alone
                shutil.copy(self.new_file, added)
                resume_secs = self._stream(tracer, "streaming.neardup_resume", out, ckp)
                with _span(tracer, "check"):
                    ok = ok and set(self._pairs(out)) == self.want
        finally:
            conf.set("spark.sql.shuffle.partitions", prev)
            if os.path.exists(added):
                os.remove(added)
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(ckp, ignore_errors=True)
        return Op(secs, self.split, ok, resume_secs)

    def layer_metrics(self, tracer, log, ops, progress):
        out = super().layer_metrics(tracer, log, ops, progress)
        n = len(self.progress_marks)
        events = [progress.progress[a:b] for a, b in self.progress_marks]

        def total(fn):
            return sum(fn(p) for ev in events for p in ev) / n

        def state(p, key):
            return sum(op.get(key, 0) for op in p.get("stateOperators", []))

        out.update({
            "streaming.neardup_s": _mean(map(_dur, tracer.named("streaming.neardup"))),
            "streaming.batches": sum(len(ev) for ev in events) / n,
            "streaming.input_rows": total(lambda p: p.get("numInputRows", 0)),
            "streaming.add_batch_ms": total(lambda p: p["durationMs"].get("addBatch", 0)),
            "streaming.commit_ms": total(
                lambda p: p["durationMs"].get("commitOffsets", 0)
                + p["durationMs"].get("walCommit", 0)
            ),
            "streaming.state_rows": _mean(state(ev[-1], "numRowsTotal") for ev in events if ev),
            "streaming.state_bytes": _mean(
                state(ev[-1], "memoryUsedBytes") for ev in events if ev
            ),
            "streaming.state_commit_ms": total(lambda p: state(p, "commitTimeMs")),
            # the file sink reports no numOutputRows; the check counts them
            "streaming.sink_rows": _mean(self.sink_rows),
        })
        return out


WORKLOADS = {w.name: w for w in (KgExtract, KgGraph, DocDedup, StreamNeardup)}
