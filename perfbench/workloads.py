"""The benchmark workloads: one closed loop, one client thread each.

Every workload has the same shape. ``setup`` starts from a live session
and builds whatever the loop reads; ``loop`` runs ``Run.iterations``
iterations of timed operations; ``finish`` makes the end-of-run checks,
outside the timed region. Each timed operation is recorded in
``Run.ops`` and each wrong or failed one in ``Run.failed``.

An iteration is coarse (a whole S1 -> S4 build, or an ingest write plus
three read batches), so a loop that ran "until the run length is used
up" would run one iteration more or less as the host speeds up or slows
down, and every median would change meaning with it. The run length
therefore sets a fixed iteration count instead: ``NOMINAL_S`` is what one
iteration takes on a 4-vCPU host, and a run of ``--seconds`` runs
``round(seconds / NOMINAL_S)`` iterations, at least one.

The layer calls are wrapped in ``tracer.span`` so a traced run can split
every call into its own jobs, stages and self time.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time

import numpy as np

from perfbench import oracles, suite
from perfbench.inputs import QUERY_ID_BASE, Inputs, write_docs

# CorpusPipeline.run's default near-duplicate threshold; setup keeps it
DEDUP_TAU = 0.5

# Workload parameters. BENCHMARK.json states the same numbers in each
# workload's "why"; README.md explains them.
PARAMS = {
    "build": {"docs": 400, "vocab": 1500, "zipf": 1.1, "cells": 8, "probes": 32, "warmup_batches": 1, "probe_batches": 6},
    "serve_ingest": {
        "docs": 400, "vocab": 1500, "zipf": 1.1, "query_zipf": 0.9, "batch": 32, "terms": (2, 4),
        "noise": 0.02, "k": 10, "delta": 40, "dup_rate": 0.2, "deletes": 4, "compact_every": 2,
    },
}


class Run:
    """State and records of one benchmark run."""

    def __init__(self, spark, tracer, work: str, seed: int, iterations: int, cores: int):
        self.spark = spark
        self.cores = cores
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.iterations = iterations
        self.ops: list[dict] = []
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.loads: list[float] = []
        self.e2e: dict = {}  # workload-specific end-to-end figures
        self.layer: dict = {}  # per-layer figures not taken from op spans

    def measured(self) -> float:
        return sum(o["s"] for o in self.ops)

    def op(self, kind: str, work, check=None, items: int = 1):
        """Time one closed-loop operation. ``work()`` calls the engine;
        ``check(result)`` runs after the clock stops and returns a list
        of problems, empty when the output is right. An operation that
        raises or has problems counts as failed."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"op.{kind}"):
                result = work()
            problems = None
        except Exception as exc:  # noqa: BLE001 — a failed op is counted, not fatal
            problems = [f"{kind}: {type(exc).__name__}: {exc}"[:300]]
        dt = time.perf_counter() - t0
        self.loads.append(os.getloadavg()[0])
        self.ops.append({"kind": kind, "s": dt, "items": items})
        if problems is None and check is not None:
            try:
                problems = check(result)
            except Exception as exc:  # noqa: BLE001 — an unreadable output is a wrong one
                problems = [f"{kind} check: {type(exc).__name__}: {exc}"[:300]]
        if problems:
            self.failed += 1
            self.problems.extend(problems[:3])
        return dt

    def p50(self, kind: str | None = None) -> float:
        xs = [o["s"] for o in self.ops if kind is None or o["kind"] == kind]
        return statistics.median(xs) if xs else float("nan")


def _dir_stats(path: str) -> tuple[int, int]:
    files = size = 0
    for dp, _, fs in os.walk(path):
        for f in fs:
            files += 1
            size += os.path.getsize(os.path.join(dp, f))
    return files, size


def _parquet_files(path: str) -> int:
    return sum(f.endswith(".parquet") for _, _, fs in os.walk(path) for f in fs)


def _parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    if not os.path.isdir(path):
        return 0
    return sum(
        pq.read_metadata(os.path.join(dp, f)).num_rows
        for dp, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )


def _probe_df(spark, probes):
    return spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in probes],
        schema="vec_id long, embedding array<float>",
    )


def _timed_read(run: Run, name: str, make_df):
    """Build the DataFrame, then collect it, as two child spans."""
    with run.tracer.span(f"{name}.build_df"):
        df = make_df()
    with run.tracer.span(f"{name}.collect"):
        return df.collect()


def _index_vectors(spark, index_path: str) -> dict[int, np.ndarray]:
    from cloudvectordb_spark.operators.pipeline import ivf_vectors_frame

    return {
        int(r.vec_id): np.asarray(r.embedding, dtype=np.float32)
        for r in ivf_vectors_frame(spark, index_path).select("vec_id", "embedding").collect()
    }


def _med(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def _read_layer(tr, ev, span: str) -> dict:
    """build-DataFrame / collect split of a read call, with its jobs,
    stages, input rows and shuffle bytes (medians over the calls)."""
    b, c = tr.named(f"{span}.build_df"), tr.named(f"{span}.collect")
    calls = [(ev.totals(x.job_ids()), ev.totals(y.job_ids())) for x, y in zip(b, c)]

    def per_call(key):
        return _med(x[key] + y[key] for x, y in calls)

    return {
        f"{span}.build_df_s": _med(s.duration for s in b),
        f"{span}.collect_s": _med(s.duration for s in c),
        f"{span}.jobs": per_call("jobs"),
        f"{span}.stages": per_call("stages"),
        f"{span}.input_rows": per_call("input_rows"),
        f"{span}.shuffle_bytes": per_call("shuffle_write_bytes"),
    }


# ---------------------------------------------------------------------------
# build: the reference's offline S1 -> S4 build
# ---------------------------------------------------------------------------
class Build:
    NOMINAL_S = 45.0  # one build plus its probe reads

    def __init__(self, run: Run):
        self.run = run
        self.p = PARAMS["build"]
        self.builds: list[str] = []  # output dir of each build
        self.recalls: list[float] = []

    def setup(self):
        p = self.p
        self.inputs = Inputs(self.run.seed, p["vocab"], p["zipf"], p["zipf"])
        self.corpus = self.inputs.docs(p["docs"])
        self.corpus_dir = write_docs(self.corpus, os.path.join(self.run.work, "corpus"))

    def _build(self, out: str) -> None:
        from pyspark.sql import functions as F

        from cloudvectordb_spark.catalog import load
        from cloudvectordb_spark.operators.pipeline import (
            build_ivf_assignments,
            build_text_triplets,
            embed_with_artifact,
            export_triplet_shards,
            write_ivf_index,
        )
        from cloudvectordb_spark.training import train_encoder_spark

        spark, tr = self.run.spark, self.run.tracer
        with tr.span("pipeline.s1"):
            export_triplet_shards(build_text_triplets(spark, self.corpus_dir), f"{out}/shards")
        with tr.span("training.s2"):
            train_encoder_spark(spark, f"{out}/shards", f"{out}/artifact")
        with tr.span("pipeline.s3"):
            docs = load(spark, self.corpus_dir, "documents")
            embed_with_artifact(docs, f"{out}/artifact").write.mode("overwrite").parquet(f"{out}/emb")
        with tr.span("pipeline.s4"):
            emb = spark.read.parquet(f"{out}/emb").select(F.col("doc_id").alias("vec_id"), "embedding")
            assigned, cents = build_ivf_assignments(emb, k=self.p["cells"])
            write_ivf_index(assigned, cents, f"{out}/ivf")

    def loop(self):
        """Each iteration: one S1 -> S4 build, then ``warmup_batches``
        and ``probe_batches`` probe reads on the index it built."""
        run = self.run
        for _ in range(run.iterations):
            out = os.path.join(run.work, f"build{len(self.builds)}")
            run.op("build", lambda: self._build(out), lambda _: self._check_build(out), items=self.p["docs"])
            self.builds.append(out)
            if os.path.isdir(f"{out}/ivf"):
                self._probe_reads(f"{out}/ivf")

    def _check_build(self, out: str) -> list[str]:
        """Exactly one vector per doc in exactly one cell, and a training
        loss that dropped. Runs after the clock stops."""
        spark = self.run.spark
        rows = spark.read.parquet(f"{out}/ivf/vectors").select("vec_id", "centroid_id").collect()
        ids = [int(r.vec_id) for r in rows]
        problems = []
        if sorted(ids) != sorted(self.corpus.doc_id.tolist()):
            problems.append(f"build: {len(ids)} index rows, {len(set(ids))} distinct, for {len(self.corpus)} docs")
        with open(f"{out}/artifact/meta.json") as f:
            loss = json.load(f)["loss_history"]
        if not loss[-1] < loss[0]:
            problems.append(f"build: training loss did not drop ({loss[0]} -> {loss[-1]})")
        self.last = {
            "loss_drop": loss[0] - loss[-1],
            "files": _parquet_files(f"{out}/ivf/vectors"),
            "max_cell_share": float(np.bincount([int(r.centroid_id) for r in rows]).max() / max(1, len(rows))),
            "triplets": spark.read.parquet(f"{out}/shards").count(),
        }
        return problems

    def _probe_reads(self, index_path: str) -> None:
        """A doc's own embedding, under a foreign id, must find that doc
        at rank 1 on the freshly built index."""
        from cloudvectordb_spark.api import VectorIndex

        run, p = self.run, self.p
        vecs = _index_vectors(run.spark, index_path)
        ex = oracles.Exact(vecs)
        idx = VectorIndex.open(run.spark, index_path)
        ids = sorted(vecs)
        for b in range(p["warmup_batches"] + p["probe_batches"]):
            # the first batch on a fresh index pays the search path's
            # cold start (about twice a later batch): checked like the
            # rest, but kept out of the read figures
            warm = b < p["warmup_batches"]
            picks = self.inputs.rng.choice(len(ids), p["probes"], replace=False)
            probes = [(QUERY_ID_BASE + j, vecs[ids[d]]) for j, d in enumerate(picks)]
            own = {QUERY_ID_BASE + j: ids[d] for j, d in enumerate(picks)}

            def check(rows, probes=probes, own=own):
                errs, rec = oracles.check_vector(ex, probes, rows, 10)
                self.recalls.append(rec)
                top1 = {int(r.probe_id): int(r.neighbor_id) for r in rows if int(r.rank) == 1}
                return errs + [f"build: probe {q} top-1 is {top1.get(q)}, not its own doc {d}"
                               for q, d in own.items() if top1.get(q) != d]

            run.op(
                "probe_warmup" if warm else "probe_read",
                lambda probes=probes, warm=warm: _timed_read(
                    run,
                    "vector_warmup" if warm else "vector",
                    lambda: idx.search_batch(_probe_df(run.spark, probes), k=10),
                ),
                check,
                items=p["probes"],
            )

    def finish(self):
        """The workload-specific figures; in a traced run, also the suite
        pass (see suite.py), which runs after the timed loop."""
        run, p = self.run, self.p
        builds = [o["s"] for o in run.ops if o["kind"] == "build"]
        run.e2e.update(build_docs_per_s=p["docs"] * len(builds) / sum(builds), corpus_docs=p["docs"])
        if run.tracer.enabled:
            suite.run_pass(run, self.corpus)

    def headline(self) -> dict:
        run = self.run
        reads = [o for o in run.ops if o["kind"] == "probe_read"]
        builds = sum(o["s"] for o in run.ops if o["kind"] == "build")
        return {
            "read_p50_s": run.p50("probe_read"),
            "queries_per_s": sum(o["items"] for o in reads) / sum(o["s"] for o in reads),
            "write_p50_s": run.p50("build"),
            # docs built and served: the build plus its timed probe
            # reads, so it is not write_p50_s again under another name
            "docs_per_s": self.p["docs"] * run.iterations / (builds + sum(o["s"] for o in reads)),
        }

    def layers(self, ev) -> dict:
        tr, last = self.run.tracer, getattr(self, "last", {})
        s2 = tr.named("training.s2")
        s2_jobs = [j for s in s2 for j in s.job_ids()]
        # a round's local-SGD stage is the applyInPandas stage after the
        # groupBy shuffle: the one S2 stage that reads shuffle data
        rounds = [st for st in ev.stages_of(s2_jobs) if st["shuffle_read_bytes"] > 0]
        s2_wall = sum(s.duration for s in s2)
        out = {
            "training.s2_s": _med(s.duration for s in s2),
            "training.round_s": s2_wall / max(1, len(rounds)),
            "training.tasks_per_round": _med(st["tasks"] for st in rounds),
            "training.core_util": ev.totals(s2_jobs)["run_ms"] / 1000.0 / max(1e-9, s2_wall * self.run.cores),
            "training.loss_drop": last.get("loss_drop", 0.0),
            "pipeline.s1_s": _med(s.duration for s in tr.named("pipeline.s1")),
            "pipeline.s1_triplets": last.get("triplets", 0),
            "pipeline.s3_s": _med(s.duration for s in tr.named("pipeline.s3")),
            "pipeline.s4_s": _med(s.duration for s in tr.named("pipeline.s4")),
            "pipeline.s4_files": last.get("files", 0),
            "kmeans_det.max_cell_share": last.get("max_cell_share", 0.0),
            "vector.recall_at_10": _mean(self.recalls),
        }
        out.update(_read_layer(tr, ev, "vector"))
        out.update(suite.layers(tr, ev))
        return out


def _mean(xs) -> float:
    return float(np.mean(xs)) if len(xs) else 0.0


# ---------------------------------------------------------------------------
# serve_ingest: batched text / vector / hybrid reads beside ingest cycles
# ---------------------------------------------------------------------------
class ServeIngest:
    """Rounds of one ingest write (CorpusPipeline.append of a delta with
    planted near-duplicates, then VectorIndex.delete of a few live ids)
    followed by a vector, a text and a hybrid batch of 32 seeded queries
    each; the vector batch is the read after the write. The order is
    fixed so that every seed pays first-of-kind costs in the same place.
    A compaction publishes a new root after every ``compact_every``
    cycles and once more when the loop ends. The text index serves the
    generated corpus; the vector index is the one the cycles mutate, so
    vector and hybrid reads see the writes."""

    NOMINAL_S = 15.0  # one write plus three read batches
    # the vector batch comes first: it is the read after each write
    READS = ("vector", "text", "hybrid")
    SPAN = {"text": "search.text", "vector": "vector", "hybrid": "hybrid"}

    def __init__(self, run: Run):
        self.run = run
        self.p = PARAMS["serve_ingest"]
        self.recalls: list[float] = []
        self.hybrid_checked = False
        self.split: dict[str, list[float]] = {"append": [], "delete": []}
        self.walls: list[dict] = []
        self.deleted: set[int] = set()
        self.planted: set[int] = set()
        self.kept_planted: set[int] = set()  # planted duplicates the append kept
        self.lost_fresh: set[int] = set()  # fresh docs the append removed
        self.cells_rewritten: list[int] = []
        self.compacts: list[tuple[float, int]] = []
        self.l0_rows: list[int] = []  # rows in the L0 tier when a compaction folds it
        self.generation = 0

    # -- setup ---------------------------------------------------------
    def setup(self):
        from cloudvectordb_spark.api import CorpusPipeline, TextIndex
        from cloudvectordb_spark.catalog import load

        run, p = self.run, self.p
        self.inputs = Inputs(run.seed, p["vocab"], p["zipf"], p["query_zipf"])
        self.corpus = self.inputs.docs(p["docs"])
        corpus_dir = write_docs(self.corpus, os.path.join(run.work, "corpus"))
        self.doc_dirs = [corpus_dir]
        with run.tracer.span("search.index_build") as s:
            self.text = TextIndex(run.spark, corpus_dir)
        run.layer["search.index_build_s"] = s.duration
        self.root = os.path.join(run.work, "idx0")
        with run.tracer.span("pipeline.corpus_run"):
            res = CorpusPipeline.run(run.spark, load(run.spark, corpus_dir, "documents"), self.root)
        self.count = res["indexed"]
        self.next_id = int(self.corpus.doc_id.max()) + 1
        self.bm = oracles.Bm25(self.corpus.doc_id, self.corpus.text)
        with run.tracer.span("read_index_vectors"):
            self.vectors = _index_vectors(run.spark, self.root)
        self.live = set(self.vectors)
        # no separate warm-up: the two index builds above run the same
        # scans, shuffles and Python workers the loop uses, and a run
        # measures first-of-kind operations on every seed alike

    # -- operations ----------------------------------------------------
    def _next_batch(self):
        p = self.p
        return (
            self.inputs.query_batch(p["batch"], p["terms"]),
            self.inputs.probes(self.vectors, sorted(self.live), p["batch"], p["noise"]),
        )

    def _work(self, kind, batch, probes):
        """The DataFrame-building call for one read batch of ``kind``."""
        from cloudvectordb_spark.api import HybridIndex, VectorIndex

        k, spark = self.p["k"], self.run.spark
        vec = VectorIndex.open(spark, self.root)
        if kind == "text":
            return lambda: self.text.search_batch(batch, k=k)
        if kind == "vector":
            return lambda: vec.search_batch(_probe_df(spark, probes), k=k)
        return lambda: HybridIndex(self.text, vec).search_batch(batch, _probe_df(spark, probes), k=k)

    def _read(self, kind):
        run, k = self.run, self.p["k"]
        batch, probes = self._next_batch()

        def check(rows):
            if kind == "text":
                return oracles.check_text(self.bm, batch, rows, k)
            if kind == "vector":
                exact = oracles.Exact({i: self.vectors[i] for i in self.live})
                errs, rec = oracles.check_vector(exact, probes, rows, k, self.deleted)
                self.recalls.append(rec)
                return errs
            return self._check_hybrid(batch, probes, rows)

        make = self._work(kind, batch, probes)
        run.op(kind, lambda: _timed_read(run, self.SPAN[kind], make), check, items=len(batch))

    def _check_hybrid(self, batch, probes, rows) -> list[str]:
        """For the first hybrid batch of the run: its ids must fall within
        the union of the two legs, the text leg's top-60 from the numpy
        BM25 and the vector leg's top-60 from the engine's strict search
        with the hybrid's nprobe, on the same index state."""
        if self.hybrid_checked:
            return []
        self.hybrid_checked = True
        from cloudvectordb_spark.api import VectorIndex

        text_leg = {q: self.bm.leg(t, 60) for q, t in batch}
        vec_leg: dict[int, set] = {}
        idx = VectorIndex.open(self.run.spark, self.root)
        for r in idx.search_batch(_probe_df(self.run.spark, probes), k=60, nprobe=8).collect():
            vec_leg.setdefault(int(r.probe_id), set()).add(int(r.neighbor_id))
        return oracles.check_hybrid(rows, text_leg, vec_leg, self.p["k"])

    def _cycle(self) -> None:
        """One ingest write: append a delta, then delete a few live ids."""
        from cloudvectordb_spark.api import CorpusPipeline, VectorIndex
        from cloudvectordb_spark.operators.pipeline import stub_encode

        run, p, spark, tr = self.run, self.p, self.run.spark, self.run.tracer
        delta, planted = self.inputs.delta(self.corpus, p["delta"], self.next_id, p["dup_rate"])
        ddir = write_docs(delta, os.path.join(run.work, f"delta{self.next_id}"))
        self.doc_dirs.append(ddir)
        self.next_id += len(delta)
        fresh = set(delta.doc_id.tolist()) - planted
        # the stub encoder embeds by doc_id, so the new vectors are known
        for d in delta.doc_id.tolist():
            self.vectors[int(d)] = stub_encode(np.array([d]))[0]
        deletes = self.inputs.delete_set(sorted(self.live), p["deletes"])
        t: dict = {}

        def work():
            with tr.span("dedup.append") as s:
                res = CorpusPipeline.append(spark, self.root, spark.read.parquet(f"{ddir}/documents.parquet"))
            t["append"] = s.duration
            with tr.span("pipeline.delete") as s:
                t["cells"] = VectorIndex.open(spark, self.root).delete(deletes)
            t["delete"] = s.duration
            return res

        def check(res):
            self.walls.append(res.get("walls", {}))
            self.cells_rewritten.append(t["cells"])
            self.split["append"].append(t["append"])
            self.split["delete"].append(t["delete"])
            t["present"] = self._index_ids()
            return self._check_write(res, t["present"], fresh, planted, deletes)

        self.planted |= planted
        run.op("cycle", work, check, items=len(delta))
        if "present" in t:
            self.live = set(t["present"])
        else:  # the write raised: carry on from what it should have left
            self.live = (self.live | fresh) - set(deletes)
        self.count = len(self.live)
        self.deleted |= set(deletes)

    def _index_ids(self) -> list[int]:
        from cloudvectordb_spark.operators.pipeline import ivf_vectors_frame

        spark = self.run.spark
        return [int(r.vec_id) for r in ivf_vectors_frame(spark, self.root).select("vec_id").collect()]

    def _check_write(self, res, ids, fresh, planted, deletes) -> list[str]:
        """The index after one append + delete: the indexed count moves
        by survivors minus deletions, no deleted or unknown id is
        indexed, and no doc that was live before the write is lost.

        A planted duplicate the append kept, or a fresh doc it removed,
        is only recorded here: whether that was the engine's estimator
        or a fault is decided at the end of the run, by
        ``_check_dedup_errors``."""
        present = set(ids)
        problems = []
        if res["indexed"] != self.count + res["survivors"]:
            problems.append(
                f"ingest: append reported {res['indexed']} indexed, expected {self.count} + "
                f"{res['survivors']} survivors"
            )
        if len(ids) != len(present) or len(ids) != self.count + res["survivors"] - len(deletes):
            problems.append(
                f"ingest: index holds {len(ids)} rows ({len(present)} distinct) after the write, expected "
                f"{self.count} + {res['survivors']} survivors - {len(deletes)} deletions"
            )
        unknown = present - ((self.live | fresh | planted) - set(deletes))
        if unknown:
            problems.append(f"ingest: deleted or unknown ids indexed: {sorted(unknown)[:5]}")
        lost = (self.live - set(deletes)) - present
        if lost:
            problems.append(f"ingest: earlier live docs lost: {sorted(lost)[:5]}")
        self.kept_planted |= planted & present
        self.lost_fresh |= fresh - present
        return problems

    def _check_dedup_errors(self) -> list[str]:
        """The engine's dedup pairs two docs when their 8-slot MinHash
        signatures share a band and agree on at least tau (0.5, the
        ``CorpusPipeline.run`` default setup uses) of the slots. That
        estimate now and then keeps a planted duplicate (seen: true word
        3-shingle Jaccard 0.91 with its source, 3 of 8 slots agreeing)
        or removes a fresh doc (seen: true Jaccard 0.047 with a corpus
        doc, 4 of 8 agreeing). Such a doc counts in
        ``dedup.planted_recall`` or ``dedup.false_removals``, and is an
        error only when the signatures, recomputed over every doc the
        run generated and paired by the engine's own banding, disagree
        with what the append did: a kept planted doc that pairs with a
        lower id, or a removed fresh doc that pairs with nothing."""
        if not (self.kept_planted or self.lost_fresh):
            return []
        from pyspark.sql import functions as F

        from cloudvectordb_spark.operators.dedup import minhash_pairs_within, minhash_sigs

        spark = self.run.spark
        docs = spark.read.parquet(*[f"{d}/documents.parquet" for d in self.doc_dirs])
        pairs = minhash_pairs_within(minhash_sigs(docs)).filter(F.col("est_jaccard") >= DEDUP_TAU)
        paired: dict[int, set[int]] = {}
        for r in pairs.collect():
            paired.setdefault(int(r.a_id), set()).add(int(r.b_id))
            paired.setdefault(int(r.b_id), set()).add(int(r.a_id))
        problems = []
        for d in sorted(self.kept_planted):
            lower = [o for o in paired.get(d, ()) if o < d]
            if lower:
                problems.append(f"ingest: planted duplicate {d} kept, though its signature pairs with doc {min(lower)}")
        for d in sorted(self.lost_fresh):
            if d not in paired:
                problems.append(f"ingest: fresh doc {d} removed, though its signature pairs with no doc")
        return problems

    def _compact(self) -> None:
        from cloudvectordb_spark.api import VectorIndex

        run = self.run
        self.generation += 1
        new_root = os.path.join(run.work, f"idx{self.generation}")
        self.l0_rows.append(_parquet_rows(os.path.join(self.root, "vectors_delta")))
        with run.tracer.span("pipeline.compact") as s:
            VectorIndex.open(run.spark, self.root).compact(new_root)
        self.compacts.append((s.duration, _dir_stats(f"{new_root}/vectors")[1]))
        shutil.rmtree(self.root, ignore_errors=True)
        self.root = new_root

    def loop(self):
        run, p = self.run, self.p
        cycles = 0
        for _ in range(run.iterations):
            self._cycle()
            cycles += 1
            if cycles % p["compact_every"] == 0:
                run.op("compact", self._compact, items=0)
            for kind in self.READS:
                self._read(kind)
        if cycles % p["compact_every"]:
            run.op("compact", self._compact, items=0)

    # -- end of run ----------------------------------------------------
    def finish(self):
        """The end state: every live doc indexed exactly once and no
        deleted id back; every planted duplicate kept and fresh doc
        removed explained by the dedup estimator."""
        run = self.run
        ids = self._index_ids()
        present = set(ids)
        problems = []
        if len(ids) != len(present) or present != self.live:
            problems.append(
                f"ingest: index holds {len(ids)} rows ({len(present)} distinct), expected {len(self.live)}; "
                f"missing {sorted(self.live - present)[:5]}, extra {sorted(present - self.live)[:5]}"
            )
        if present & self.deleted:
            problems.append(f"ingest: deleted ids came back: {sorted(present & self.deleted)[:5]}")
        problems += self._check_dedup_errors()
        if problems:
            run.failed += 1
            run.problems.extend(problems)
        self.planted_recall = 1.0 - len(self.kept_planted) / max(1, len(self.planted))
        self.false_removals = len(self.lost_fresh)
        self.index_files, self.index_bytes = _dir_stats(self.root)
        vector_bytes = len(present) * len(next(iter(self.vectors.values()))) * 4
        reads = [o for o in run.ops if o["kind"] in self.SPAN]
        run.e2e.update(
            serve_qps=sum(o["items"] for o in reads) / sum(o["s"] for o in reads),
            text_p50_s=run.p50("text"),
            vector_p50_s=run.p50("vector"),
            hybrid_p50_s=run.p50("hybrid"),
            ingest_docs_per_s=self._docs_per_s(),
            append_p50_s=_med(self.split["append"]),
            delete_p50_s=_med(self.split["delete"]),
            read_after_write_p50_s=run.p50("vector"),
            index_bytes_per_vector_byte=self.index_bytes / vector_bytes,
        )

    def _docs_per_s(self) -> float:
        # writes only: the append/delete cycles plus compaction
        ops = [o for o in self.run.ops if o["kind"] in ("cycle", "compact")]
        return sum(o["items"] for o in ops) / sum(o["s"] for o in ops)

    def headline(self) -> dict:
        reads = [o for o in self.run.ops if o["kind"] in self.SPAN]
        # a round's reads are one batch of each kind, in order, so a
        # gain in any one kind moves this median of round totals
        n = len(self.READS)
        per_round = [sum(o["s"] for o in reads[i : i + n]) for i in range(0, len(reads), n)]
        return {
            "read_p50_s": _med(per_round),
            "queries_per_s": sum(o["items"] for o in reads) / sum(o["s"] for o in reads),
            "write_p50_s": self.run.p50("cycle"),
            "docs_per_s": self._docs_per_s(),
        }

    def layers(self, ev) -> dict:
        tr = self.run.tracer

        def wall(key):
            return _med(w.get(key, 0.0) for w in self.walls)

        out = {
            "vector.recall_at_10": _mean(self.recalls),
            "dedup.state_load_s": wall("state_load_s"),
            "dedup.delta_sig_s": wall("delta_sig_s"),
            "dedup.cc_s": wall("dedup_cc_s"),
            "dedup.labels_survivors_s": wall("labels_survivors_s"),
            "dedup.demotion_s": wall("demotion_s"),
            "sigstate.state_roll_s": wall("state_roll_s"),
            "dedup.planted_recall": self.planted_recall,
            "dedup.false_removals": self.false_removals,
            "pipeline.embed_append_s": wall("embed_append_s"),
            "pipeline.handoff_counts_s": wall("handoff_counts_s"),
            "pipeline.delete_cells_rewritten": _med(self.cells_rewritten),
            "pipeline.compact_s": _med(d for d, _ in self.compacts),
            "pipeline.compact_bytes_rewritten": _med(b for _, b in self.compacts),
            "pipeline.l0_rows": _med(self.l0_rows),
            "storage.index_files": self.index_files,
            "storage.index_bytes": self.index_bytes,
        }
        for span in self.SPAN.values():
            out.update(_read_layer(tr, ev, span))
        return out


WORKLOADS = {"build": Build, "serve_ingest": ServeIngest}
