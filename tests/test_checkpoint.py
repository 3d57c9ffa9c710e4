"""Checkpoint/resume: snapshot pinning, per-file lineage, idempotent merge
(SURVEY.md §5.2.8, north-rule resumability criterion)."""

import os
import shutil

import numpy as np
import pytest

from grenier_spark.core import hll
from grenier_spark.operators.sketch_build import SketchSpec
from grenier_spark.plans.checkpoint import CheckpointedSketchJob
from grenier_spark.sources.synth import write_documents_local
from grenier_spark.sources.tableio import SnapshotTable

SPECS = [SketchSpec.of("h", "hll", "tokens", p=12),
         SketchSpec.of("c", "cms", "tokens", depth=4, width=1024, seed=7)]


@pytest.fixture()
def input_table(spark, tmp_path):
    """A snapshot table with two appends (8 files total)."""
    d1 = str(tmp_path / "gen1")
    write_documents_local(d1, 400)
    t = SnapshotTable(str(tmp_path / "docs"))
    df1 = spark.read.parquet(d1)
    t.append(df1.repartition(5))
    return t


def sketches_of(df):
    pdf = df.toPandas()
    return {(getattr(r, "source", None), r.sketch_name): bytes(r.sketch)
            for r in pdf.itertuples()}


def test_snapshot_table_basics(spark, tmp_path, input_table):
    snap = input_table.current_snapshot()
    assert snap["id"] == 1 and len(snap["files"]) == 5
    assert input_table.read(spark).count() == 400
    # append -> new snapshot supersets old files
    extra = str(tmp_path / "gen2")
    write_documents_local(extra, 100)
    input_table.append(spark.read.parquet(extra).coalesce(1))
    s2 = input_table.current_snapshot()
    assert s2["id"] == 2 and set(snap["files"]) < set(s2["files"])
    # pinned read of snapshot 1 still sees 400 rows
    assert input_table.read(spark, snapshot_id=1).count() == 400
    assert input_table.read(spark).count() == 500


def test_run_then_resume_is_noop(spark, tmp_path, input_table):
    job = CheckpointedSketchJob(str(tmp_path / "ckpt"), SPECS, ["source"])
    r1 = sketches_of(job.run(spark, input_table))
    covered1 = job.covered_files(spark)
    assert len(covered1) == 5
    # covered paths must be the MANIFEST-form paths (a URI-scheme residue
    # like '///p' would silently break the diff and the final merge)
    assert covered1 == set(input_table.files())
    # non-vacuous result: every (source, spec) present, bit-identical to a
    # direct uncheckpointed build over the same table
    from grenier_spark.operators.sketch_build import build_sketches

    direct = sketches_of(build_sketches(
        input_table.read(spark), SPECS, group_cols=["source"]))
    assert len(r1) == len(direct) > 0
    assert r1 == direct
    # resume with nothing new: same snapshot -> no new lineage, same bytes
    r2 = sketches_of(job.run(spark, input_table))
    assert job.covered_files(spark) == covered1
    assert r1 == r2
    # and no duplicate lineage rows were appended by the no-op resume
    m = job.metrics(spark).toPandas()
    assert m[m.sketch_name == "h"].groupby(
        ["lineage_file", "source"]).size().max() == 1


def test_resume_processes_only_new_files_and_matches_scratch(
        spark, tmp_path, input_table):
    job = CheckpointedSketchJob(str(tmp_path / "ckpt"), SPECS, ["source"])
    job.run(spark, input_table)
    covered1 = job.covered_files(spark)

    # new data arrives -> snapshot 2
    extra = str(tmp_path / "gen2")
    write_documents_local(extra, 150)
    input_table.append(spark.read.parquet(extra).repartition(2))

    r2 = sketches_of(job.run(spark, input_table))
    covered2 = job.covered_files(spark)
    assert len(covered2 - covered1) == 2  # only the 2 new files processed

    # from-scratch job over the same snapshot: bit-identical HLL/CMS states
    scratch = CheckpointedSketchJob(str(tmp_path / "ckpt2"), SPECS, ["source"])
    r_scratch = sketches_of(scratch.run(spark, input_table))
    assert len(r2) > 0
    assert r2 == r_scratch


def test_crash_between_data_and_manifest_is_idempotent(
        spark, tmp_path, input_table):
    """Orphan parquet (data written, manifest not committed) must be ignored
    and the rerun must re-cover those files exactly once."""
    job = CheckpointedSketchJob(str(tmp_path / "ckpt"), SPECS, ["source"])
    r1 = sketches_of(job.run(spark, input_table))

    ckpt = job.table
    manifest_before = ckpt._read_manifest()
    # simulate: a second run wrote data files but crashed pre-commit —
    # drop a bogus orphan parquet into the checkpoint dir
    orphan_src = os.path.join(ckpt.path, ckpt.current_snapshot()["files"][0])
    shutil.copy(orphan_src, os.path.join(ckpt.path, "snap-orphan.parquet"))
    assert ckpt._read_manifest() == manifest_before

    r2 = sketches_of(job.run(spark, input_table))
    assert r1 == r2  # orphan never referenced, result unchanged


def test_empty_input_file_does_not_fail_integrity_gate(
        spark, tmp_path, input_table):
    """An input file with ZERO rows produces no partials; the lineage gate
    must treat it as covered (via the snapshot coverage declaration) instead
    of raising, and resume must still be a no-op."""
    job = CheckpointedSketchJob(str(tmp_path / "ckpt"), SPECS, ["source"])
    r1 = sketches_of(job.run(spark, input_table))

    # append an EMPTY file to the input table (snapshot 2)
    empty = input_table.read(spark).limit(0)
    input_table.append(empty.coalesce(1))
    assert len(input_table.current_snapshot()["files"]) == 6

    r2 = sketches_of(job.run(spark, input_table))  # must not raise
    assert r1 == r2  # zero new rows -> identical merged sketches
    assert job.covered_files(spark) >= set(input_table.files())
    # and a further resume is still a clean no-op
    r3 = sketches_of(job.run(spark, input_table))
    assert r2 == r3


def test_lineage_metrics_surface(spark, tmp_path, input_table):
    job = CheckpointedSketchJob(str(tmp_path / "ckpt"), SPECS, ["source"])
    job.run(spark, input_table)
    m = job.metrics(spark).toPandas()
    assert {"lineage_file", "source", "sketch_name", "n_rows", "n_values",
            "build_us", "snapshot_id"} <= set(m.columns)
    # every (file, source, spec) covered once; counts add up to the table
    h = m[m.sketch_name == "h"]
    assert h.groupby(["lineage_file", "source"]).size().max() == 1
    assert int(h.n_rows.sum()) == 400


def test_stray_lineage_path_raises_not_launders(spark, tmp_path,
                                               input_table, monkeypatch):
    """If the URI-scheme normalization regresses, every partial's lineage
    path misses the todo list; the old behavior declared ALL files covered
    (zero-row set = todo) and silently merged nothing. The stray-path gate
    must raise instead."""
    import grenier_spark.plans.checkpoint as cp

    monkeypatch.setattr(
        cp.F, "regexp_replace",
        lambda col, pattern, repl: cp.F.col(col))  # normalization no-op
    job = CheckpointedSketchJob(str(tmp_path / "ckpt"), SPECS, ["source"])
    with pytest.raises(RuntimeError, match="normalization mismatch"):
        job.run(spark, input_table)


def test_history_is_prefix_exact_merge_tree(spark, tmp_path, input_table):
    """history() answers "the sketch as of snapshot s" for every s from
    checkpoint partials alone; each prefix must be BIT-IDENTICAL to a
    from-scratch build pinned at that input snapshot."""
    job = CheckpointedSketchJob(str(tmp_path / "ckpt"), SPECS, ["source"])
    with pytest.raises(ValueError, match="run\\(\\) first"):
        job.history(spark)
    job.run(spark, input_table)  # input snapshot 1

    extra = str(tmp_path / "gen2")
    write_documents_local(extra, 150)
    input_table.append(spark.read.parquet(extra).repartition(2))
    job.run(spark, input_table)  # input snapshot 2

    hist = job.history(spark).toPandas()
    assert sorted(hist.as_of_snapshot.unique()) == [1, 2]
    by_snap = {
        s: {(r.source, r.sketch_name): bytes(r.sketch)
            for r in g.itertuples()}
        for s, g in hist.groupby("as_of_snapshot")}
    for s in (1, 2):
        scratch = CheckpointedSketchJob(
            str(tmp_path / f"scr{s}"), SPECS, ["source"])
        want = sketches_of(scratch.run(spark, input_table, snapshot_id=s))
        assert by_snap[s] == want, f"as-of-{s} diverges from scratch"
    # growth is visible: snapshot-2 HLL estimates >= snapshot-1's
    for (src, name), blob in by_snap[1].items():
        if name == "h":
            assert (hll.card_hllpp(hll.from_bytes(by_snap[2][(src, name)]))
                    >= hll.card_hllpp(hll.from_bytes(blob)))


def test_run_accepts_relative_input_path(spark, tmp_path, monkeypatch):
    """A relative input-table path must not trip the stray-lineage gate
    (lineage from input_file_name() is absolute)."""
    import pandas as pd

    pdf = pd.DataFrame({"source": ["a"] * 10,
                        "v": np.arange(10, dtype=np.int64)})
    spark.createDataFrame(pdf).coalesce(1).write.parquet(
        str(tmp_path / "intab_rel" / "data"))
    monkeypatch.chdir(tmp_path)  # AFTER the write: JVM keeps its own cwd
    rel = SnapshotTable.from_parquet_dir("intab_rel/data")  # RELATIVE
    job = CheckpointedSketchJob(
        str(tmp_path / "ckpt_rel"),
        [SketchSpec.of("h", "hll", "v", p=8)], group_cols=["source"])
    out = job.run(spark, rel).toPandas()
    assert len(out) == 1 and out.n_values[0] == 10


def _merge_stages(df) -> int:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.count("FlatMapGroupsInArrow")


@pytest.mark.parametrize("fanout,stages", [(2, 2), (32, 1)])
def test_merge_shape_follows_file_count(spark, tmp_path, fanout, stages):
    """3 input files give each (source, spec) 3 checkpoint rows: fanout=2
    keeps the salted two-stage merge in run() and history(), fanout=32
    merges in one stage, and both give the bytes of a one-shot build."""
    from grenier_spark.operators.sketch_build import build_sketches

    src = str(tmp_path / "gen")
    write_documents_local(src, 300)
    table = SnapshotTable(str(tmp_path / "docs"))
    table.append(spark.read.parquet(src).repartition(3))
    assert len(table.files()) == 3
    job = CheckpointedSketchJob(str(tmp_path / "ckpt"), SPECS, ["source"],
                                fanout=fanout)
    ran = job.run(spark, table)
    hist = job.history(spark)
    assert _merge_stages(ran) == _merge_stages(hist) == stages
    want = sketches_of(build_sketches(table.read(spark), SPECS, ["source"]))
    assert len(want) == 8
    assert sketches_of(ran) == want
    assert sketches_of(hist.drop("as_of_snapshot")) == want


@pytest.mark.parametrize("fanout,stages", [(2, 2), (32, 1)])
def test_incremental_merge_shape_follows_batch_count(spark, tmp_path,
                                                      fanout, stages):
    """The incremental sink over 3 batches: current() merges 3 rows per
    (source, spec) in two stages at fanout=2 and in one at fanout=32,
    with the bytes of a one-shot build either way."""
    from grenier_spark.operators.sketch_build import build_sketches
    from grenier_spark.streaming.incremental import IncrementalSketchSink

    src = str(tmp_path / "gen")
    write_documents_local(src, 300)
    docs = spark.read.parquet(src)
    sink = IncrementalSketchSink(str(tmp_path / "state"), SPECS, ["source"],
                                 fanout=fanout)
    for b in range(3):
        sink.process_batch(docs.where(docs.doc_id.substr(-1, 1).cast("int")
                                      % 3 == b), b)
    cur = sink.current(spark)
    assert _merge_stages(cur) == stages
    want = sketches_of(build_sketches(docs, SPECS, ["source"]))
    assert len(want) == 8
    assert sketches_of(cur) == want
