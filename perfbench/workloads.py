"""The benchmark's three workloads, driven through the engine's public functions.

Each workload has these steps:

- ``build(spark, seed)``: make the inputs from the seed (timed as set-up);
  ``release_inputs`` frees a build that is not kept;
- ``prepare(spark, inputs)``: build the oracle and run input-level checks;
- ``run(spark, inputs, tr, work, warmup)``: one pipeline pass, one span per
  call into an engine layer, every output materialized inside its span;
- ``check(out, oracle)``: verify the pass's outputs after the timer stopped.

``run`` returns a ``PassOut``: the outputs to check, the CC input (for the
traced run's transit probes) and the CC input's edge count.
"""

from __future__ import annotations

import hashlib
import io
import re
from contextlib import contextmanager, redirect_stdout
from dataclasses import dataclass, field
from pathlib import Path
from statistics import median

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from imtag_spark.operators.cc import EDGE_SCHEMA, connected_components, local_contract
from imtag_spark.operators.interval_join import adjacent_row_edges
from imtag_spark.operators.lpa import label_propagation
from imtag_spark.operators.pagerank import pagerank
from imtag_spark.operators.rle import grid_to_runs
from imtag_spark.operators.triangles import triangle_count
from imtag_spark.plans import pipelines
from imtag_spark.plans.checkpoint import (
    SuperstepCheckpointer,
    free_local_checkpoint,
    frontier_storage,
)
from imtag_spark.sources.corpus import content_sha_invariant, corpus_edges, generate_corpus
from imtag_spark.sources.grids import GRID_SPECS, grid_to_cells, make_grid

from perfbench import oracles

#: FIXTURES.md §2 goldens harvested from the compiled reference, by grid spec
HARVESTED = {
    "tiny": (70, 42, 29, "51cedecf039a8ad4cdbff52fac33788108c4ed1138838acbd436759cc48dac88"),
    "small": (1_039, 800, 253, "63cff2fffda6a539b3054a46827c868e279978c965c7f67632f559e523324eda"),
    "large": (251_652, 241_312, 26_700, "f4bdc7fe30d6fc40f829fdb82f5ae5a99c4cbf8b7bdbc9a1845a50712c510024"),
}
PR_ITERS = 4  # PageRank supersteps per timed corpus pass
LPA_ROUNDS = 2  # LPA rounds per timed corpus pass
PROBE_REPS = 3  # timings per CC transit probe; the median is reported


@dataclass
class PassOut:
    frames: dict[str, DataFrame] = field(default_factory=dict)
    counts: dict[str, int] = field(default_factory=dict)
    cc_input: DataFrame | None = None
    cc_edges: int = 0


def materialize(df: DataFrame) -> tuple[DataFrame, int]:
    """One job: compute ``df`` into a local checkpoint and count its rows."""
    df = df.localCheckpoint(eager=False)
    return df, df.count()


def release(frames) -> None:
    for df in frames:
        free_local_checkpoint(df)


def spark_fingerprint(df: DataFrame, vertex: str, label: str) -> tuple[int, int, int, int]:
    """Spark-side twin of ``oracles.label_fingerprint``."""
    p = F.lit(2_147_483_647)
    row = df.agg(
        F.count(F.lit(1)),
        F.countDistinct(label),
        F.coalesce(F.sum(label), F.lit(0)),
        F.coalesce(F.sum(F.pmod(F.pmod(label, p) * F.pmod(vertex, p), p)), F.lit(0)),
    ).collect()[0]
    return tuple(int(x) for x in row)


_CC_INIT = re.compile(r"\[cc\] init n=(\d+)")
_CC_ROUND = re.compile(r"\[cc\] round \d+ edges=(\d+) chained=(\d+)(?: \(patched (\d+)\))?")


def run_cc(tr, edges: DataFrame, **kwargs) -> DataFrame:
    """``connected_components`` in an ``operators.cc`` span. Its public
    ``verbose`` lines and ``metrics_out`` give the span its work shape."""
    kwargs.pop("metrics_out", None)
    kwargs.pop("verbose", None)
    m: dict = {}
    log = io.StringIO()
    with tr.span("operators.cc") as sp, redirect_stdout(log):
        labels = connected_components(edges, verbose=True, metrics_out=m, **kwargs)
    text = log.getvalue()
    init = _CC_INIT.search(text)
    rounds = [tuple(int(x or 0) for x in r) for r in _CC_ROUND.findall(text)]
    sp.attrs.update(
        supersteps=m.get("supersteps", 0),
        superstep_s=sum(m.get("superstep_times", [])),
        init_rows=int(init.group(1)) if init else 0,
        round_edges=sum(r[0] for r in rounds),
        chained=sum(r[1] for r in rounds),
        patched=sum(r[2] for r in rounds),
    )
    return labels


def _identity(batches):
    yield from batches


def transit_probes(tr, edges: DataFrame) -> dict:
    """Split CC's Arrow contraction into transit and kernel time.

    Times, over the workload's CC input: the public ``local_contract`` at
    the width CC's own id-range gate picks, and a pass-through
    ``mapInArrow`` at int64 and at int32 width (transit only). Kernel time
    is ``local_contract`` minus the pass-through at the same width.
    """
    lo, hi = edges.agg(
        F.min(F.least("src", "dst")), F.max(F.greatest("src", "dst"))
    ).collect()[0]
    narrow = lo is not None and -(2**31) <= lo and hi < 2**31
    int32 = edges.select(
        *(F.col(c).bitwiseAND(0x7FFFFFFF).cast("int").alias(c) for c in ("src", "dst"))
    )
    plans = {
        "local_contract_s": local_contract(edges, narrow=narrow),
        "arrow_identity_s": edges.select("src", "dst").mapInArrow(_identity, EDGE_SCHEMA),
        "arrow_identity_int32_s": int32.mapInArrow(_identity, "src INT, dst INT"),
    }
    out = {"narrow_transit": int(narrow)}
    for name, df in plans.items():
        times = []
        for _ in range(PROBE_REPS):
            with tr.span(f"operators.cc.probe.{name}") as sp:
                df.write.format("noop").mode("overwrite").save()
            times.append(sp.duration)
        out[name] = median(times)
    same_width = "arrow_identity_int32_s" if narrow else "arrow_identity_s"
    out["kernel_s"] = out["local_contract_s"] - out[same_width]
    return out


@contextmanager
def traced_label_runs(tr, edges: DataFrame):
    """Inside ``label_runs``: hand back the already materialized ``edges``
    (the pass's own ``adjacent_row_edges`` output, so the interval join is
    not computed twice), and route the CC call through ``run_cc``, so the
    pipeline's CC work gets its own span inside ``plans.pipelines``."""
    originals = pipelines.adjacent_row_edges, pipelines.connected_components
    pipelines.adjacent_row_edges = lambda runs, connectivity: edges
    pipelines.connected_components = lambda e, **kw: run_cc(tr, e, **kw)
    try:
        yield
    finally:
        pipelines.adjacent_row_edges, pipelines.connected_components = originals


class TimedCheckpointer(SuperstepCheckpointer):
    """A ``SuperstepCheckpointer`` whose saves are ``plans.checkpoint`` spans.

    The save span keeps its parent's Spark job group: a CC round's frontier
    is lazy, so its write also runs the round, which belongs to CC.
    """

    def __init__(self, spark, root: Path, tr) -> None:
        super().__init__(spark, str(root))
        self.tr = tr

    def save(self, df: DataFrame, step: int) -> DataFrame:
        with self.tr.span("plans.checkpoint", tag_jobs=False, step=step) as sp:
            out = super().save(df, step)
            sp.attrs["bytes"] = sum(
                f.stat().st_size for f in self._step_dir(step).rglob("*") if f.is_file()
            )
        return out


def _hashlib_sha256(content: pd.Series) -> pd.Series:
    return content.map(lambda s: hashlib.sha256(s.encode()).hexdigest())


class CorpusPipeline:
    """Corpus table → edges → CC and PageRank (durable checkpoint every
    superstep), LPA and triangle counts."""

    name = "corpus_pipeline"
    def __init__(self, n_rows: int = 200_000, n_repos: int = 50_000) -> None:
        self.n_rows, self.n_repos = n_rows, n_repos

    def build(self, spark, seed: int) -> dict:
        corpus = generate_corpus(spark, n_rows=self.n_rows, n_repos=self.n_repos, seed=seed)
        corpus, rows = materialize(corpus)
        return {"corpus": corpus, "rows": rows}

    def release_inputs(self, inputs: dict) -> None:
        release([inputs["corpus"]])

    def prepare(self, spark, inputs: dict) -> tuple[dict, list]:
        corpus = inputs["corpus"]
        sha_udf = F.pandas_udf(_hashlib_sha256, "string")
        mismatched = (
            content_sha_invariant(corpus)
            .where(F.col("content_sha") != sha_udf("content"))
            .count()
        )
        # the edge oracle is rebuilt from the rows in pandas; only the vertex
        # ids come from Spark's built-in xxhash64
        rows = corpus.select(
            "repo", "path", "commit",
            F.xxhash64("repo", "path", "commit", "lang", "content").alias("v"),
            F.xxhash64("repo", "commit").alias("h"),
        ).toPandas()
        pairs = oracles.corpus_edges(rows)
        src, dst = pairs[:, 0], pairs[:, 1]
        verts, ranks = oracles.pagerank(src, dst, PR_ITERS, directed=False)
        oracle = {
            "repos": rows["repo"].nunique(),
            "pairs": pairs,
            "vertices": len(verts),
            "pagerank": pd.Series(ranks, index=verts),
            "triangles": oracles.total_triangles(src, dst),
        }
        return oracle, [("content_sha256", mismatched == 0, f"{mismatched} rows differ")]

    def run(self, spark, inputs: dict, tr, work: Path, warmup: bool = False) -> PassOut:
        # the warm-up compiles every plan shape; two PageRank supersteps and
        # one LPA round have them all
        pr_iters, lpa_rounds = (2, 1) if warmup else (PR_ITERS, LPA_ROUNDS)
        out = PassOut()
        with tr.span("sources.corpus") as sp:
            edges, n = materialize(corpus_edges(inputs["corpus"]))
            sp.attrs["rows"] = n
        out.cc_edges = n
        out.frames["edges"] = out.cc_input = edges
        out.frames["cc"] = run_cc(
            tr, edges, checkpointer=TimedCheckpointer(spark, work / "cc", tr),
            checkpoint_every=1,
        )
        m: dict = {}
        with tr.span("operators.pagerank") as sp:
            out.frames["pagerank"] = pagerank(
                edges, directed=False, tol=0.0, max_iter=pr_iters,
                checkpointer=TimedCheckpointer(spark, work / "pagerank", tr),
                checkpoint_every=1, metrics_out=m,
            )
        sp.attrs.update(
            supersteps=m.get("supersteps", 0),
            superstep_times=m.get("superstep_times", []),
            broadcast_join=int(m.get("mode") == "broadcast_join"),
        )
        with tr.span("operators.lpa"):
            out.frames["lpa"] = label_propagation(edges, max_iter=lpa_rounds)
        with tr.span("operators.triangles"):
            out.frames["triangles"], _ = materialize(triangle_count(edges))
        return out

    def check(self, out: PassOut, oracle: dict) -> list:
        pdf = out.frames["edges"].toPandas()
        got = pdf[["src", "dst"]].to_numpy()
        got = got[np.lexsort((got[:, 1], got[:, 0]))]
        labels = out.frames["cc"]
        cc_rows, n_comp = labels.agg(F.count(F.lit(1)), F.countDistinct("component")).collect()[0]
        ranks = out.frames["pagerank"].toPandas().set_index("vertex")["rank"]
        pr_err = float((ranks - oracle["pagerank"]).abs().max()) if len(ranks) == oracle["vertices"] else np.inf
        lpa = out.frames["lpa"]
        comp = labels.select(F.col("vertex").alias("label"), F.col("component").alias("label_comp"))
        lpa_rows, lpa_bad = (
            lpa.join(labels, "vertex").join(comp, "label")
            .agg(F.count(F.lit(1)), F.sum((F.col("component") != F.col("label_comp")).cast("int")))
            .collect()[0]
        )
        tri_rows, tri_sum = out.frames["triangles"].agg(F.count(F.lit(1)), F.sum("triangles")).collect()[0]
        return [
            ("edges", np.array_equal(got, oracle["pairs"]),
             f"{len(got)} edges, oracle {len(oracle['pairs'])}"),
            ("cc", n_comp == oracle["repos"] and cc_rows == oracle["vertices"],
             f"{n_comp} components for {oracle['repos']} repos, {cc_rows} vertices"),
            ("pagerank", pr_err <= 1e-6, f"max |rank - numpy| = {pr_err:.3g}"),
            ("lpa", lpa_rows == oracle["vertices"] and not lpa_bad,
             f"{lpa_rows} labels, {lpa_bad} outside their component"),
            ("triangles", tri_rows == oracle["vertices"] and tri_sum == 3 * oracle["triangles"],
             f"{tri_sum} corner counts, oracle {3 * oracle['triangles']}"),
        ]


class SynthUniform:
    """Uniform random graph with bounded ids: CC with in-memory frontiers."""

    name = "synth_uniform"
    def __init__(self, n_edges: int = 2_100_000, n_vertices: int = 525_000) -> None:
        self.n_edges, self.n_vertices = n_edges, n_vertices

    def build(self, spark, seed: int) -> dict:
        ids = spark.range(self.n_edges)
        end = [
            F.pmod(F.xxhash64("id", F.lit(seed), F.lit(side)), F.lit(self.n_vertices))
            for side in (0, 1)
        ]
        edges = ids.select(end[0].alias("src"), end[1].alias("dst")).where(
            F.col("src") != F.col("dst")
        ).localCheckpoint(eager=False, storageLevel=frontier_storage())
        return {"edges": edges, "rows": edges.count()}

    def release_inputs(self, inputs: dict) -> None:
        release([inputs["edges"]])

    def prepare(self, spark, inputs: dict) -> tuple[dict, list]:
        pdf = inputs["edges"].toPandas()
        verts, idx = np.unique(
            np.concatenate([pdf["src"].to_numpy(), pdf["dst"].to_numpy()]), return_inverse=True
        )
        n = len(pdf)
        comp = verts[oracles.min_labels(len(verts), idx[:n], idx[n:])]
        return {"fingerprint": oracles.label_fingerprint(verts, comp)}, []

    def run(self, spark, inputs: dict, tr, work: Path, warmup: bool = False) -> PassOut:
        edges = inputs["edges"]
        out = PassOut(cc_input=edges, cc_edges=inputs["rows"])
        out.frames["cc"] = run_cc(tr, edges)
        return out

    def check(self, out: PassOut, oracle: dict) -> list:
        fp = spark_fingerprint(out.frames["cc"], "vertex", "component")
        return [("cc", fp == oracle["fingerprint"], f"fingerprint {fp}, oracle {oracle['fingerprint']}")]


class GridCcl:
    """Binary grid → cells → runs → row-adjacency edges → ``label_runs``."""

    name = "grid_ccl"
    def __init__(self, spec: str = "large") -> None:
        self.spec = spec
        self.rows, self.cols, self.p, self.golden_seed = GRID_SPECS[spec]

    def build(self, spark, seed: int) -> dict:
        return {"grid": make_grid(self.rows, self.cols, self.p, seed), "seed": seed}

    def release_inputs(self, inputs: dict) -> None:
        pass

    def prepare(self, spark, inputs: dict) -> tuple[dict, list]:
        oracle = oracles.grid_oracle(inputs["grid"])
        checks = []
        if inputs["seed"] == self.golden_seed and self.spec in HARVESTED:
            got = (oracle["runs"], oracle["edges"], oracle["components"], oracle["label_sha256"])
            checks.append(("oracle_vs_reference", got == HARVESTED[self.spec],
                           f"oracle {got}, harvested {HARVESTED[self.spec]}"))
        return oracle, checks

    def run(self, spark, inputs: dict, tr, work: Path, warmup: bool = False) -> PassOut:
        out = PassOut()
        steps = (
            ("sources.grids", "cells", lambda: grid_to_cells(spark, inputs["grid"])),
            ("operators.rle", "runs", lambda: grid_to_runs(out.frames["cells"])),
            ("operators.interval_join", "edges", lambda: adjacent_row_edges(out.frames["runs"])),
        )
        for layer, key, make in steps:
            with tr.span(layer) as sp:
                out.frames[key], out.counts[key] = materialize(make())
                sp.attrs["rows"] = out.counts[key]
        with tr.span("plans.pipelines"), traced_label_runs(tr, out.frames["edges"]):
            out.frames["labels"], _ = materialize(
                pipelines.label_runs(out.frames["runs"], "cross", base=1)
            )
        out.cc_input, out.cc_edges = out.frames["edges"], out.counts["edges"]
        return out

    def check(self, out: PassOut, oracle: dict) -> list:
        fp = spark_fingerprint(out.frames["labels"], "vertex", "dense_label")
        counts = out.counts
        return [
            ("cells", counts["cells"] == oracle["cells"], f"{counts['cells']} cells, oracle {oracle['cells']}"),
            ("runs", counts["runs"] == oracle["runs"], f"{counts['runs']} runs, oracle {oracle['runs']}"),
            ("edges", counts["edges"] == oracle["edges"], f"{counts['edges']} edges, oracle {oracle['edges']}"),
            ("labels", fp == oracle["fingerprint"], f"fingerprint {fp}, oracle {oracle['fingerprint']}"),
        ]


WORKLOADS = {w.name: w for w in (CorpusPipeline, SynthUniform, GridCcl)}
