"""Checkpoint/resume (north rule): kill an iterative CC job after superstep
k, restart from the parquet manifest, get byte-identical final labels."""

from __future__ import annotations

import json
import shutil

import pytest
from pyspark.sql import functions as F

from imtag_spark.operators.cc import connected_components
from imtag_spark.plans.checkpoint import SuperstepCheckpointer


def _chain_edges(spark, n=5000):
    # long path on PERMUTED vertex ids: (i*48271) % 65537 is a bijection on
    # [0, 65537), so consecutive chain vertices land in unrelated hash
    # partitions and the partition-local contraction cannot shortcut the
    # global rounds — guarantees a multi-superstep run
    perm = lambda c: (c * 48271) % 65537  # noqa: E731
    return spark.range(n - 1).select(
        perm(F.col("id")).alias("src"), perm(F.col("id") + 1).alias("dst")
    ).repartition(8)


#: the r4 frontier funnel solves any sub-1M-row graph in one round, which
#: would defeat these multi-superstep checkpoint scenarios; shrinking the
#: union-find chunk (which also gates the funnel) keeps them multi-round
MULTI_ROUND = {"_contract_chunk": 512}


@pytest.fixture(autouse=True)
def _no_terminal_patch(monkeypatch):
    # the r4 terminal-tail patch resolves any ≤65536-witness tail without a
    # further superstep — correct, but these scenarios deliberately engineer
    # multi-superstep runs to exercise checkpoint/resume, so disable it here
    import imtag_spark.operators.cc as cc

    monkeypatch.setattr(cc, "PATCH_WITNESS_LIMIT", 0)


def _labels_dict(df):
    return {r["vertex"]: r["component"] for r in df.collect()}


def test_checkpointer_writes_manifest_and_metrics(spark, tmp_path):
    ckpt = SuperstepCheckpointer(spark, str(tmp_path / "cc"), keep_last=3)
    edges = _chain_edges(spark)
    labels = connected_components(
        edges, checkpointer=ckpt, checkpoint_every=1, pre_contract=False,
        **MULTI_ROUND,
    )
    got = _labels_dict(labels)
    assert set(got.values()) == {0}
    manifest = json.loads(ckpt.manifest_path.read_text())
    assert manifest["last_step"] >= 2
    steps = manifest["steps"]
    # per-superstep lineage metrics recorded
    assert all("edges" in v and "chained" in v and "wall_time_s" in v
               for v in steps.values())


def test_resume_after_kill_is_identical(spark, tmp_path):
    root = str(tmp_path / "cc")
    edges = _chain_edges(spark)

    # full run -> ground truth + durable per-step checkpoints
    full = SuperstepCheckpointer(spark, root, keep_last=100)
    expected = _labels_dict(
        connected_components(edges, checkpointer=full, checkpoint_every=1,
                             pre_contract=False, **MULTI_ROUND)
    )
    manifest = json.loads(full.manifest_path.read_text())
    last = manifest["last_step"]
    assert last >= 2

    # simulate a crash one superstep before convergence: rewind the manifest
    kill_at = last - 1
    manifest["last_step"] = kill_at
    manifest["steps"] = {k: v for k, v in manifest["steps"].items()
                         if int(k) <= kill_at}
    full.manifest_path.write_text(json.dumps(manifest))

    resumed_ckpt = SuperstepCheckpointer(spark, root, keep_last=100)
    frontier, step = resumed_ckpt.resume()
    assert step == kill_at
    resumed = _labels_dict(
        connected_components(edges, checkpointer=resumed_ckpt,
                             checkpoint_every=1, pre_contract=False,
                             **MULTI_ROUND)
    )
    assert resumed == expected


def test_resume_empty_root_returns_none(spark, tmp_path):
    ckpt = SuperstepCheckpointer(spark, str(tmp_path / "empty"))
    assert ckpt.resume() is None


def test_manifest_records_true_witnesses_when_patch_fires(
    spark, tmp_path, monkeypatch
):
    # r4 ADVICE: a round that both writes a durable checkpoint and resolves
    # its tail driver-side must record the TRUE pre-patch witness count
    # plus patched=True — the stored parquet frontier still contains those
    # witnesses, so chained=0 would claim a terminal star forest the
    # stored state is not.
    import imtag_spark.operators.cc as cc

    monkeypatch.setattr(cc, "PATCH_WITNESS_LIMIT", 65_536)  # undo autouse 0
    ckpt = SuperstepCheckpointer(spark, str(tmp_path / "cc"), keep_last=3)
    edges = _chain_edges(spark, n=600)  # > the 512 chunk → no funnel
    labels = connected_components(
        edges, checkpointer=ckpt, checkpoint_every=1, pre_contract=False,
        **MULTI_ROUND,
    )
    assert set(_labels_dict(labels).values()) == {0}  # patch kept exactness
    manifest = json.loads(ckpt.manifest_path.read_text())
    patched_steps = [
        v for v in manifest["steps"].values() if v.get("patched")
    ]
    assert patched_steps, f"no patched step recorded: {manifest['steps']}"
    assert all(v["chained"] > 0 for v in patched_steps)
    # un-patched steps never carry the flag
    assert all(
        "patched" not in v
        for v in manifest["steps"].values()
        if v not in patched_steps
    )


def test_one_pass_solve_checkpoints_step_one_and_resumes(spark, tmp_path):
    # a graph under the funnel gate is labeled in ONE measured Arrow pass;
    # with a durable checkpointer that pass is superstep 1 of the manifest
    # (chained=0, edges = label rows), and a solve resuming from it returns
    # identical labels
    root = str(tmp_path / "cc")
    edges = _chain_edges(spark)
    ckpt = SuperstepCheckpointer(spark, root)
    m: dict = {}
    first = connected_components(edges, checkpointer=ckpt, checkpoint_every=1,
                                 metrics_out=m)
    expected = _labels_dict(first)
    assert m["supersteps"] == 1
    assert len(expected) == 5000 and set(expected.values()) == {0}
    manifest = json.loads(ckpt.manifest_path.read_text())
    assert manifest["last_step"] == 1
    assert manifest["steps"]["1"]["chained"] == 0
    assert manifest["steps"]["1"]["edges"] == 5000

    resumed_ckpt = SuperstepCheckpointer(spark, root)
    assert resumed_ckpt.resume()[1] == 1
    resumed = connected_components(
        edges, checkpointer=resumed_ckpt, checkpoint_every=1
    )
    assert _labels_dict(resumed) == expected

    # the returned labels are materialized in memory: deleting the
    # checkpoint root (a caller's temporary directory) leaves them readable
    shutil.rmtree(root)
    assert _labels_dict(first) == expected
    assert _labels_dict(resumed) == expected
