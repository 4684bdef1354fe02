"""The benchmark's workloads.

``kg_extract`` runs the ``kg`` CLI job and ``kg_graph`` the graph
operators over a KG edge table. Their traced runs also run the
``resume`` and ``import-csv`` CLI jobs (``batch_import_spark/__main__.py``)
on their inputs, so every layer is measured somewhere. Each job calls
the package's public functions in the order its CLI job does; spans are
opened around the calls, and with a disabled tracer they cost nothing.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from batch_import_spark.config import load_config
from batch_import_spark.operators.graph_import import import_nodes, import_relationships
from batch_import_spark.operators.graph_stats import (
    bfs_distances,
    kcore,
    label_propagation,
    louvain_refine,
    pagerank,
)
from batch_import_spark.pipeline import kg
from batch_import_spark.pipeline.checkpoint import KgCheckpointer
from batch_import_spark.pipeline.extract import extract_mentions
from batch_import_spark.sinks import GraphSink
from batch_import_spark.sources.csv_source import read_reference_csv
from batch_import_spark.sources.transcripts import read_transcripts

import gen


@dataclass
class Ctx:
    spark: object
    work: str  # scratch directory of this run, inside the checkout
    seed: int
    scale: float  # 1.0 for measured runs; the self-test shrinks inputs
    expected: dict = field(default_factory=dict)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    return path


class Workload:
    name = ""
    main_table = ""  # output table the self-test corrupts
    warmup_jobs = 1

    def stage(self, ctx: Ctx) -> dict:
        """Generate and stage the inputs; returns rows and bytes per input."""
        raise NotImplementedError

    def job(self, ctx: Ctx, tr) -> dict:
        """One complete job from staged inputs to outputs read back."""
        raise NotImplementedError

    def verify(self, ctx: Ctx, out: dict) -> list[str]:
        """Names of the output checks that failed."""
        raise NotImplementedError

    def warmup(self, ctx: Ctx, tr) -> list[str]:
        """The first (cold) jobs, checked like every other."""
        failed = []
        for _ in range(self.warmup_jobs):
            failed += self.verify(ctx, self.job(ctx, tr))
        return failed

    def layers(self, ctx: Ctx, tr) -> list[str]:
        """Traced run only: spans that time single layers in isolation;
        returns the names of the output checks that failed."""
        return []


# --- KG construction ---------------------------------------------------


class KgExtract(Workload):
    """The ``kg`` CLI job: transcripts + alias table → nodes/edges, with
    the pandas extraction kernel and the built-in-sized dictionary."""

    name = "kg_extract"
    main_table = "edges"
    # ~600k turns: large enough that the pandas kernel is a third of a
    # job, small enough that set-up and MIN_JOBS jobs fit a run's budget
    N_CONVS = 36000
    # the first job after a cold one still costs ~40% more CPU than the
    # ones after it (JIT); a second warm-up job keeps it out of the median
    warmup_jobs = 2
    # the traced resume pass runs on a smaller transcript set of its own
    RESUME_CONVS = 4000
    n_buckets = 64  # checkpoint layout of the traced resume pass
    max_buckets = 32

    def stage(self, ctx):
        vocab = gen.builtin_vocabulary()
        n_alias = gen.write_alias(vocab, _fresh(ctx.path("in", "aliases")), ctx.seed)
        tx = gen.write_transcripts(
            vocab, _fresh(ctx.path("in", "transcripts")), ctx.seed,
            max(20, int(self.N_CONVS * ctx.scale)),
        )
        ctx.expected.update(vocab=vocab, tx=tx)
        return {
            "transcripts": {"rows": tx.n_turns, "bytes": tx.bytes},
            "aliases": {"rows": n_alias, "bytes": gen.dir_size(ctx.path("in", "aliases"))[1]},
        }

    def _inputs(self, ctx, transcripts="transcripts"):
        t = read_transcripts(ctx.spark, ctx.path("in", transcripts))
        aliases = ctx.spark.read.parquet(ctx.path("in", "aliases"))
        return t, aliases

    def job(self, ctx, tr):
        out = _fresh(ctx.path("out"))
        with tr.span("job"):
            t, aliases = self._inputs(ctx)
            with tr.span("link_dict"):
                link_dict = kg.prepare_link_dict(aliases)
            with tr.span("pipeline"):
                res = kg.run_kg_pipeline(t, aliases, link_dict=link_dict)
            sink = GraphSink(ctx.spark, out)
            with tr.span("sinks.write"):
                sink.write_graph(res.nodes, res.edges)
            with tr.span("sinks.read"):
                n_edges = sink.read("edges").count()
                n_occ = sink.read("edges").agg(F.sum("n_occurrences")).collect()[0][0]
                n_nodes = sink.read("nodes").count()
        return {
            "sink": sink,
            "metrics": res.metrics,
            "triples": n_occ,
            "nodes": n_nodes,
            "edges": n_edges,
            "out": out,
        }

    def verify(self, ctx, out):
        tx, vocab = ctx.expected["tx"], ctx.expected["vocab"]
        m = out["metrics"]
        edges = out["sink"].read("edges").select("subj", "pred", "obj", "n_occurrences")
        failed = []
        if gen.digest(edges.toPandas().itertuples(index=False)) != tx.digest:
            failed.append("edges_digest")
        if m.get("n_turns") != tx.n_turns:
            failed.append("n_turns")
        if m.get("n_mentions") != tx.n_mentions or m.get("n_linked") != tx.n_linked:
            failed.append("n_mentions")
        if m.get("n_mentions") != m.get("n_linked", 0) + m.get("n_skipped", 0):
            failed.append("n_skipped")
        if (out["nodes"], out["edges"], out["triples"]) != (
            vocab.n_nodes, len(tx.triples), tx.n_occurrences
        ):
            failed.append("counts")
        return failed

    def layers(self, ctx, tr):
        t, aliases = self._inputs(ctx)
        with tr.span("link_dict") as s:
            link_dict = kg.prepare_link_dict(aliases)
            link_dict.write.format("noop").mode("overwrite").save()
            stats = dict(kg.LAST_DICT_STATS)
            # rows the chosen path uses: the driver path uses every
            # fetched row, the distributed path discards all of them
            s.attrs.update(stats, kept=stats["n_fetched"] if stats["path"] == "driver" else 0)
        with tr.span("extract") as ext:
            extract_mentions(t).write.format("noop").mode("overwrite").save()
        link_dict = link_dict.persist()
        mentions = extract_mentions(t).persist()
        try:
            ext.attrs["mentions"] = mentions.count()
            n_dict = link_dict.count()
            with tr.span("link") as s:
                resolved, obs = kg.link_and_canonicalize(mentions, link_dict)
                resolved.write.format("noop").mode("overwrite").save()
                s.attrs.update(obs.get, broadcast_rows=n_dict)
        finally:
            mentions.unpersist()
            link_dict.unpersist()
        return self._resume(ctx, tr)

    def _resume(self, ctx, tr):
        """The ``resume`` job on a smaller transcript set: a fresh
        checkpoint filled by ``max_buckets`` calls until no bucket is
        pending. Its summed edges must equal the set's closed-form KG."""
        tx = gen.write_transcripts(
            ctx.expected["vocab"], _fresh(ctx.path("in", "resume")), ctx.seed,
            max(20, int(self.RESUME_CONVS * ctx.scale)),
        )
        t, aliases = self._inputs(ctx, "resume")
        ck = KgCheckpointer(ctx.spark, _fresh(ctx.path("ckpt")), n_buckets=self.n_buckets)
        rdds0 = _persistent_rdds(ctx.spark)
        processed = 0
        while True:
            with tr.span("checkpoint.resume") as s:
                n = ck.resume(t, aliases, run_id=f"run{processed}",
                              max_buckets=self.max_buckets)["buckets_processed"]
            s.attrs["rdds_leaked"] = _persistent_rdds(ctx.spark) - rdds0
            with tr.span("checkpoint.manifest"):
                done = len(ck.done_buckets())
            processed += n
            if n == 0 or done == self.n_buckets:
                break
        summed = (
            ck.edges().groupBy("subj", "pred", "obj")
            .agg(F.sum("n_occurrences").alias("n")).toPandas()
        )
        man = ck.manifest().agg(
            F.sum("n_turns"), F.sum("n_mentions"), F.sum("n_linked"), F.sum("n_skipped")
        ).collect()[0]
        failed = []
        if gen.digest(summed.itertuples(index=False)) != tx.digest:
            failed.append("resume_summed_edges_digest")
        if list(man) != [tx.n_turns, tx.n_mentions, tx.n_linked, tx.n_mentions - tx.n_linked]:
            failed.append("resume_manifest_counters")
        if processed != done:
            failed.append("resume_buckets")
        return failed


# --- graph analytics over the KG ------------------------------------------


class KgGraph(Workload):
    """Graph operators over the KG edge table, plus (traced run only) the
    ``import-csv`` job on a reference-format nodes.csv/rels.csv."""

    name = "kg_graph"
    OPS = ("pagerank", "bfs", "kcore", "louvain")
    main_table = "pagerank"
    # Each operator runs Spark jobs per iteration. One iteration (one
    # louvain colour) instead of the operator defaults (6, 4, 4) keeps
    # set-up and MIN_JOBS jobs inside a run's time budget; every
    # per-iteration plan still runs once.
    PAGERANK_ITERATIONS = 1
    LP_ITERATIONS = 1
    LOUVAIN_COLORS = 1

    def stage(self, ctx):
        vocab = gen.builtin_vocabulary()
        tx = gen.write_kg_edges(
            vocab, _fresh(ctx.path("in", "kg_edges")), ctx.seed, max(20, int(20000 * ctx.scale))
        )
        os.makedirs(ctx.path("in", "csv"), exist_ok=True)
        n_nodes = max(50, int(10000 * ctx.scale))
        csv = gen.write_csv_graph(
            ctx.path("in", "csv", "nodes.csv"), ctx.path("in", "csv", "rels.csv"),
            ctx.seed, n_nodes, 2 * n_nodes,
        )
        ctx.expected.update(
            tx=tx, csv=csv, seeds=[vocab.canon["P0"], vocab.canon["P1"]],
            # pagerank and the community operators skip self-loops
            n_nodes=len({v for s, _p, o, _n in tx.triples if s != o for v in (s, o)}),
        )
        inputs = {k: {"rows": csv.rows[k], "bytes": csv.bytes[k]} for k in csv.rows}
        inputs["kg_edges"] = {"rows": len(tx.triples), "bytes": tx.bytes}
        return inputs

    def warmup(self, ctx, tr):
        # the reference digests every later job is checked against
        tables = self._tables(self.job(ctx, tr))
        ctx.expected["graph"] = {op: gen.digest(t.itertuples(index=False))
                                 for op, t in tables.items()}
        return self._check_shapes(ctx, tables)

    def job(self, ctx, tr):
        spark = ctx.spark
        out = _fresh(ctx.path("out"))
        sink = GraphSink(spark, out)
        seeds = ctx.expected["seeds"]
        with tr.span("job"):
            g = spark.read.parquet(ctx.path("in", "kg_edges")).select(
                F.col("subj").alias("src"), F.col("obj").alias("dst")
            )
            rdds0 = _persistent_rdds(spark)
            with tr.span("graph.pagerank"):
                r = pagerank(g, iterations=self.PAGERANK_ITERATIONS, reset_nodes=seeds)
                with tr.span("sinks.write"):
                    sink.write(r, "pagerank")
            with tr.span("graph.bfs"):
                src = spark.createDataFrame([(seeds[0],)], "node string")
                r = bfs_distances(g, src, directed=True, max_hops=10)
                with tr.span("sinks.write"):
                    sink.write(r, "bfs")
            with tr.span("graph.kcore"):
                r = kcore(g, 2)
                with tr.span("sinks.write"):
                    sink.write(r, "kcore")
            with tr.span("graph.louvain"):
                lp = label_propagation(g, iterations=self.LP_ITERATIONS)
                r = louvain_refine(g, lp, colors=self.LOUVAIN_COLORS)
                with tr.span("sinks.write"):
                    sink.write(r, "louvain")
            leaked = _persistent_rdds(spark) - rdds0
            with tr.span("sinks.read"):
                for op in self.OPS:
                    sink.read(op).count()
        return {
            "sink": sink,
            "rdds_leaked": leaked,
            "triples": ctx.expected["tx"].n_occurrences,
            "out": out,
        }

    def _tables(self, out) -> dict:
        return {op: out["sink"].read(op).toPandas() for op in self.OPS}

    def _check_shapes(self, ctx, tables) -> list[str]:
        """What the results must satisfy whatever the reference job
        computed: one pagerank and one community per node, the ranks a
        positive mass of at most 1 (10**12 in the operator's fixed-point
        units; dangling mass is dropped), the bfs seed at distance 0 and
        every 2-core node of degree at least 2."""
        n, seed = ctx.expected["n_nodes"], ctx.expected["seeds"][0]
        pr, bfs, kc, lv = (tables[op] for op in self.OPS)
        failed = []
        mass = pr["pagerank_scaled"].sum()
        if len(pr) != n or pr["node"].nunique() != n or not 0 < mass <= 10**12:
            failed.append("pagerank_shape")
        seed_dist = bfs.loc[bfs["node"] == seed, "dist"].tolist()
        if bfs["node"].nunique() != len(bfs) or seed_dist != [0]:
            failed.append("bfs_shape")
        if not 0 < len(kc) <= n or kc["core_degree"].min() < 2:
            failed.append("kcore_shape")
        if len(lv) != n or lv["node"].nunique() != n:
            failed.append("louvain_shape")
        return failed

    def verify(self, ctx, out):
        tables = self._tables(out)
        return self._check_shapes(ctx, tables) + [
            f"{op}_digest" for op, t in tables.items()
            if gen.digest(t.itertuples(index=False)) != ctx.expected["graph"][op]
        ]

    def layers(self, ctx, tr):
        """The ``import-csv`` job, as ``_run_csv_import`` runs it."""
        spark = ctx.spark
        sink = GraphSink(spark, _fresh(ctx.path("csv_out")))
        cfg = load_config("", nodes_files=ctx.path("in", "csv", "nodes.csv"),
                          rels_files=ctx.path("in", "csv", "rels.csv"))
        opts = dict(delim=cfg.delim, quotes=cfg.quotes, array_separator=cfg.array_separator)
        with tr.span("csv.read"):
            ref = read_reference_csv(spark, cfg.nodes_files, **opts)
        with tr.span("import.nodes"):
            nodes = import_nodes(ref)
            with tr.span("sinks.write"):
                sink.write(nodes.nodes, "nodes")
                sink.write(nodes.index_entries, "index_entries")
        with tr.span("csv.read"):
            rref = read_reference_csv(spark, cfg.rels_files, **opts)
        with tr.span("import.rels") as s:
            rels = import_relationships(rref, sink.read("index_entries"))
            with tr.span("sinks.write"):
                sink.write(rels.edges, "edges")
                sink.write(rels.index_entries, "rel_index_entries")
        s.attrs.update(rels.observation.get)
        with tr.span("sinks.read"):
            sink.read("edges").count()
            sink.read("nodes").count()
        return self._verify_csv(ctx, sink, rels.observation.get)

    def _verify_csv(self, ctx, sink, obs) -> list[str]:
        """Node ids are exactly 0..N-1 in file order, relationship ids are
        dense, and the planted dangling/ambiguous endpoints are skipped."""
        g = ctx.expected["csv"]
        nodes = sink.read("nodes").select("node_id", "name", "age").toPandas()
        edges = (
            sink.read("edges")
            .select("rel_id", "src_id", "dst_id", "rel_type", "since")
            .toPandas()
        )
        failed = []
        if sorted(nodes["node_id"].tolist()) != list(range(g.n_nodes)):
            failed.append("csv_node_ids_dense")
        if gen.digest(nodes.itertuples(index=False)) != g.nodes_digest:
            failed.append("csv_nodes_digest")
        if sorted(edges["rel_id"].tolist()) != list(range(len(edges))):
            failed.append("csv_rel_ids_dense")
        if gen.digest(edges.itertuples(index=False)) != g.edges_digest:
            failed.append("csv_edges_digest")
        if obs.get("n_skipped") != g.n_skipped or obs.get("n_input") != g.n_rels:
            failed.append("csv_n_skipped")
        return failed


WORKLOADS = {w.name: w for w in (KgExtract(), KgGraph())}
