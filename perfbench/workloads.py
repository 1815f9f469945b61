"""The benchmark's workloads: inputs made from the seed, one rep of work
through the engine's public calls, and the checks on what a rep returns.

Each public call runs inside ``Tracer.span(<layer>)``, which times it and
tags its Spark jobs with the job group ``r<rep>:<layer>``. Nothing inside
the engine is changed or patched; the checkpoint manager is wrapped per
instance so its ``save``/``latest`` calls get spans of their own.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import time
from contextlib import contextmanager

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from leiden_communities_openmp_spark.operators.companions import (
    connected_components, label_propagation, pagerank, triangle_count,
)
from leiden_communities_openmp_spark.operators.graphgen import planted_hard
from leiden_communities_openmp_spark.operators.kernel import LeidenOptions
from leiden_communities_openmp_spark.operators.leiden import leiden_scale
from leiden_communities_openmp_spark.plans.checkpoint import CheckpointManager
from leiden_communities_openmp_spark.sources.edges import symmetricize_df
from leiden_communities_openmp_spark.sources.fixtures import gen_pages
from leiden_communities_openmp_spark.sources.pages import ingest

SWEEP_PARTITIONS = 8    # P: fixed, so labels do not depend on the core count
BLOCK = 256             # planted_hard's community block size

# leiden_scale phase records -> benchmark phase names. Their sum, with the
# remainder reported as leiden.unattributed_s, is the leiden_scale wall time.
PHASES = ("setup", "vt", "partition", "move", "refine", "renumber", "aggregate",
          "driver_kernel", "final_q")
HOPS = ("bcast", "job_collect", "apply")


class Tracer:
    """Spans around public calls. Every span sets the Spark job group
    ``r<rep>:<layer>``; with ``cpu`` set it also samples process-tree CPU."""

    def __init__(self, sc, cpu=None):
        self.sc = sc
        self.cpu = cpu
        self.rep = 0
        self.spans: list[dict] = []
        self._stack: list[str] = []

    def _group(self, layer: str):
        self.sc.setJobGroup(f"r{self.rep}:{layer}", layer)

    @contextmanager
    def span(self, layer: str):
        parent = self._stack[-1] if self._stack else "other"
        self._stack.append(layer)
        self._group(layer)
        c0 = self.cpu() if self.cpu else None
        t0 = time.perf_counter()
        try:
            yield
        finally:
            wall = time.perf_counter() - t0
            rec = {"rep": self.rep, "layer": layer, "wall_s": wall}
            if c0 is not None:
                rec["cpu_s"] = self.cpu()["total"] - c0["total"]
            self.spans.append(rec)
            self._stack.pop()
            self._group(parent)


def _traced_checkpointer(root: str, tracer: Tracer) -> CheckpointManager:
    """A checkpoint manager whose ``save``/``latest`` run in spans of their
    own. ``ck.resumed_from`` lists the pass each ``latest`` call returned
    (None when it found no committed pass)."""
    ck = CheckpointManager(root)
    save, latest = ck.save, ck.latest
    ck.resumed_from = []

    def traced_save(*a, **kw):
        with tracer.span("ckpt.save"):
            return save(*a, **kw)

    def traced_latest(*a, **kw):
        with tracer.span("ckpt.latest"):
            got = latest(*a, **kw)
        ck.resumed_from.append(None if got is None else got[0])
        return got

    ck.save, ck.latest = traced_save, traced_latest
    return ck


def committed_passes(root: str) -> list[int]:
    """Passes under a checkpoint root that have a ``_COMMITTED`` marker."""
    if not os.path.isdir(root):
        return []
    return sorted(int(d[len("pass_"):]) for d in os.listdir(root)
                  if d.startswith("pass_") and os.path.exists(os.path.join(root, d, "_COMMITTED")))


def leiden_phases(metrics: list[dict]) -> dict[str, float]:
    """Phase seconds, driver-hop seconds, passes' move rounds and rows
    shipped back by the sweep, summed over a run's phase records."""
    out = {f"{p}_s": 0.0 for p in PHASES}
    out.update({f"hop.{h}_s": 0.0 for h in HOPS})
    out.update(move_rounds=0, rows_out=0)
    for m in metrics:
        if m.get("phase") == "setup":
            out["setup_s"] += m["seconds"]
        elif m.get("phase") == "final_modularity":
            out["final_q_s"] += m["seconds"]
        elif m.get("strategy") == "driver-kernel":
            out["driver_kernel_s"] += m["pass_seconds"]
        elif m.get("strategy") == "sweep":
            for p in ("vt", "partition", "move", "refine", "renumber", "aggregate"):
                out[f"{p}_s"] += m.get(f"{p}_seconds", 0.0)
            hop = m.get("driver_hop") or {}
            for h in HOPS:
                out[f"hop.{h}_s"] += hop.get(h, 0.0)
            out["rows_out"] += hop.get("rows_out", 0)
            out["move_rounds"] += m.get("move_iterations", 0)
    return out


def seeded_ids(n: int, seed: int) -> np.ndarray:
    """New id of each vertex 0..n-1. Seed 0 keeps the ids. Any other seed
    inserts a random gap of 0-255 unused ids before each 256-vertex block:
    the map is increasing, so the id order the sweep depends on, the block
    locality and the amount of work all stay the same, and only the values
    change."""
    if seed == 0:
        return np.arange(n, dtype=np.int64)
    gaps = np.random.default_rng(seed).integers(0, BLOCK, size=-(-n // BLOCK))
    return np.arange(n, dtype=np.int64) + np.cumsum(gaps)[np.arange(n) // BLOCK]


def canonical_labels(membership, ids: np.ndarray | None = None) -> tuple[str, int]:
    """(md5 of the community of each vertex in ``ids`` order, row count),
    with communities numbered by their first vertex, so the digest does not
    depend on the engine's community ids. ``ids`` defaults to the sorted ids
    of ``membership``; a vertex missing from it gets community -1."""
    t = membership.select(F.col("id").cast("long"), F.col("community").cast("long")).toArrow()
    got_ids = t.column("id").to_numpy()
    order = np.argsort(got_ids, kind="stable")
    got_ids, got_comm = got_ids[order], t.column("community").to_numpy()[order]
    ids = got_ids if ids is None else ids
    pos = np.minimum(np.searchsorted(got_ids, ids), len(got_ids) - 1)
    comm = np.where(got_ids[pos] == ids, got_comm[pos], -1)
    _, first, inverse = np.unique(comm, return_index=True, return_inverse=True)
    rank = np.argsort(np.argsort(first))
    return hashlib.md5(rank[inverse].astype("<i8").tobytes()).hexdigest(), len(got_ids)


class PlantedSweep:
    """Leiden's sweep strategy on a planted-partition graph: two distributed
    sweep passes, then the driver kernel. The warm-up rep checkpoints every
    sweep pass; after it a kill during pass 2 is simulated and the run
    resumed from pass 1's checkpoint. Timed reps run without a checkpointer."""

    name = "planted_sweep"
    # counts that repeat exactly from rep to rep (see run.repeat_checks)
    repeating = ("jobs", "stages", "tasks", "py_tasks", "py_bytes_in", "py_bytes_out",
                 "shuffle_write_bytes")
    n = 6_400           # 25 blocks; sized so a run fits the per-run budget
    local_iters = 3     # move rounds per pass; each round is P Python tasks
    # Pass 1 (6,400 vertices) and pass 2 (2,669) run as distributed sweeps;
    # without a checkpointer pass 2 consumes pass 1's lazy multigraph handoff.
    # The multigraph keeps all 138,200 edge rows, above driver_threshold, so
    # the vertex count routes: the 528 vertices left after pass 2 are below
    # driver_vertex_threshold and finish on the driver kernel.
    driver_threshold = 50_000
    driver_vertex_threshold = 1_000

    def __init__(self, spark, tracer: Tracer, seed: int, work_dir: str):
        self.spark, self.tracer, self.seed = spark, tracer, seed
        self.ckpt_dir = os.path.join(work_dir, "ckpt")
        self.edges = None
        self.edge_rows = 0

    def build(self):
        # the engine's own generator, symmetrized, in sorted order
        t = symmetricize_df(planted_hard(self.spark, self.n)).select("src", "dst").toArrow()
        pairs = np.stack([t.column("src").to_numpy(), t.column("dst").to_numpy()], axis=1)
        pairs = pairs[np.lexsort((pairs[:, 1], pairs[:, 0]))]
        self.ids = seeded_ids(self.n, self.seed)
        pairs = self.ids[pairs]
        # the seed also shuffles the row order; the engine sorts what it needs
        pairs = pairs[np.random.default_rng(self.seed).permutation(len(pairs))]
        pdf = pd.DataFrame({"src": pairs[:, 0], "dst": pairs[:, 1], "w": np.ones(len(pairs))})
        self.edges = self.spark.createDataFrame(pdf).localCheckpoint(eager=True)
        self.edge_rows = len(pairs)

    def _leiden(self, checkpointer=None) -> dict:
        with self.tracer.span("leiden_scale"):
            res = leiden_scale(self.spark, self.edges, LeidenOptions(),
                               num_partitions=SWEEP_PARTITIONS,
                               local_iters=self.local_iters,
                               driver_threshold=self.driver_threshold,
                               driver_vertex_threshold=self.driver_vertex_threshold,
                               checkpointer=checkpointer)
        digest, rows = canonical_labels(res.membership, self.ids)
        return {"edge_rows": self.edge_rows, "labels": digest, "label_rows": rows,
                "modularity": res.modularity, "passes": res.passes,
                "phases": leiden_phases(res.metrics)}

    def rep(self, warmup: bool) -> dict:
        if not warmup:
            return self._leiden()
        shutil.rmtree(self.ckpt_dir, ignore_errors=True)
        obs = self._leiden(_traced_checkpointer(self.ckpt_dir, self.tracer))
        obs["ckpt_mb"] = _du_mb(self.ckpt_dir)
        obs["committed"] = committed_passes(self.ckpt_dir)
        return obs

    def resume(self) -> dict:
        """Kill during pass 2: keep pass 1's commit marker, drop the later
        ones, then resume from the warm-up rep's checkpoints."""
        for p in committed_passes(self.ckpt_dir)[1:]:
            os.remove(os.path.join(self.ckpt_dir, f"pass_{p:05d}", "_COMMITTED"))
        ck = _traced_checkpointer(self.ckpt_dir, self.tracer)
        with self.tracer.span("resume"):
            obs = self._leiden(ck)
        obs["resumed_from"] = ck.resumed_from
        return obs

    def checks(self, reps: list[dict], resumed: dict, pinned: dict | None) -> list[tuple[str, bool]]:
        out = [(f"labels of rep {r['rep']} equal the first rep's", r["labels"] == reps[0]["labels"]
                and r["modularity"] == reps[0]["modularity"]) for r in reps]
        out.append(("every vertex labelled", all(r["label_rows"] == self.n for r in reps)))
        committed = next(r["committed"] for r in reps if "committed" in r)
        out.append((f"the checkpointed rep committed passes 1 and 2: {committed}",
                    committed[:2] == [1, 2]))
        out.append((f"the resume started from pass 1: {resumed['resumed_from']}",
                    resumed["resumed_from"] == [1]))
        out.append(("resumed labels equal the uninterrupted run's",
                    resumed["labels"] == reps[0]["labels"]))
        out.append(("resumed modularity equals the uninterrupted run's",
                    abs(resumed["modularity"] - reps[0]["modularity"]) <= 1e-9))
        if pinned:
            out.append(("edge rows", reps[0]["edge_rows"] == pinned["edge_rows"]))
            out.append(("label digest", reps[0]["labels"] == pinned["labels"]))
            out.append(("modularity", abs(reps[0]["modularity"] - pinned["modularity"]) <= 1e-6))
            out += [(f"passes and move rounds of rep {r['rep']}",
                     (r["passes"], r["phases"]["move_rounds"])
                     == (pinned["passes"], pinned["move_rounds"])) for r in reps]
        return out


class PagesCompanions:
    """Arrow ingestion of synthetic crawl pages, then Leiden (which finishes
    on the driver kernel at this size) and the four companion operators on
    the extracted link graph."""

    name = "pages_companions"
    # compressed shuffle sizes vary by a few hundred bytes from rep to rep
    repeating = ("jobs", "stages", "tasks", "py_tasks", "py_bytes_in", "py_bytes_out")
    n_pages = 2_000

    def __init__(self, spark, tracer: Tracer, seed: int, work_dir: str):
        self.spark, self.tracer, self.seed = spark, tracer, seed
        self.pages = None

    def build(self):
        # The pages are always gen_pages(n, seed=42). Any other seed gives
        # every url the same extra host prefix (in the url column and in the
        # html links) and shuffles the rows: the bytes the engine reads
        # change, the sorted url order, ids, graph and results do not.
        rows = gen_pages(self.n_pages, seed=42)
        html = [r["html"] for r in rows]
        urls = [r["url"] for r in rows]
        if self.seed != 0:
            prefix = f"https://s{self.seed}-"
            urls = [u.replace("https://", prefix) for u in urls]
            html = [h.replace(b"https://", prefix.encode()) for h in html]
        order = list(range(len(rows)))
        random.Random(self.seed).shuffle(order)
        pdf = pd.DataFrame({
            "url": [urls[i] for i in order],
            "warc_ts": [rows[i]["warc_ts"] for i in order],
            "html": [html[i] for i in order],
            "lang": [rows[i]["lang"] for i in order],
        })
        self.pages = (self.spark.createDataFrame(pdf)
                      .withColumn("warc_ts", F.timestamp_seconds("warc_ts"))
                      .localCheckpoint(eager=True))

    def rep(self, warmup: bool) -> dict:
        span = self.tracer.span
        with span("ingest"):
            edges = ingest(self.pages)[0].localCheckpoint(eager=True)
            edge_rows = edges.count()
        with span("leiden_scale"):
            res = leiden_scale(self.spark, edges, LeidenOptions(),
                               num_partitions=SWEEP_PARTITIONS)
        digest, rows = canonical_labels(res.membership)
        with span("pagerank"):
            pr_sum = pagerank(edges, 5).agg(F.sum("rank")).collect()[0][0]
        with span("connected_components"):
            n_cc = connected_components(edges).select("component").distinct().count()
        with span("label_propagation"):
            n_lpa = label_propagation(edges, 3).select("label").distinct().count()
        with span("triangle_count"):
            tri = triangle_count(edges).collect()[0][0]
        return {"edge_rows": edge_rows, "labels": digest, "label_rows": rows,
                "modularity": res.modularity, "passes": res.passes,
                "phases": leiden_phases(res.metrics),
                "pagerank_sum": pr_sum, "components": n_cc, "lpa_labels": n_lpa,
                "triangles": tri}

    def resume(self) -> dict:
        return {}

    def checks(self, reps: list[dict], resumed: dict, pinned: dict | None) -> list[tuple[str, bool]]:
        keys = ("edge_rows", "labels", "components", "lpa_labels", "triangles")
        out = [(f"rep {r['rep']} repeats the first rep", all(r[k] == reps[0][k] for k in keys)
                and r["modularity"] == reps[0]["modularity"]) for r in reps]
        out.append(("pagerank sums to 1", all(abs(r["pagerank_sum"] - 1.0) <= 1e-9 for r in reps)))
        if pinned:
            out += [(k, reps[0][k] == pinned[k]) for k in keys]
            out.append(("modularity", abs(reps[0]["modularity"] - pinned["modularity"]) <= 1e-6))
        return out


def _du_mb(path: str) -> float:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / 2**20


WORKLOADS = {w.name: w for w in (PlantedSweep, PagesCompanions)}
