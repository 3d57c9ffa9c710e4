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
    # the empty file is covered by the commit's declaration, not its rows
    (empty_file,) = set(input_table.files(2)) - set(input_table.files(1))
    props = job.table.current_snapshot()["properties"]
    assert props["covered_files"] == [os.path.abspath(empty_file)]
    assert props["row_files"] == []
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
    # the partials were written once, checked from the staged files and
    # never committed: no staging directory, no snapshot
    assert not [f for f in os.listdir(job.table.path)
                if f.startswith("_staging_")]
    assert job.table._read_manifest() == {"snapshots": []}


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


def _job_names(spark, group: str) -> "list[str]":
    """Stage names (call sites) of every Spark job in ``group``."""
    st = spark.sparkContext.statusTracker()
    names = []
    for j in st.getJobIdsForGroup(group):
        stages = [st.getStageInfo(s) for s in st.getJobInfo(j).stageIds]
        names.append(" | ".join(s.name for s in stages if s is not None))
    return names


def _checkpoint_reads(names: "list[str]") -> "list[str]":
    """Schema-inference jobs and lineage collects of checkpoint.py."""
    return [n for n in names if "parquet at" in n
            or ("collect at" in n and "checkpoint.py" in n)]


def test_incremental_run_and_history_read_lineage_from_manifest(
        spark, tmp_path, input_table):
    """An incremental run over one new file infers no schema and collects
    no lineage: the diff, the stray check and the integrity gate read the
    manifest and the staged files. history() starts no job before its
    collect."""
    sc = spark.sparkContext
    job = CheckpointedSketchJob(str(tmp_path / "ckpt"), SPECS, ["source"])
    job.run(spark, input_table)
    extra = str(tmp_path / "gen2")
    write_documents_local(extra, 100)
    input_table.append(spark.read.parquet(extra).coalesce(1))
    try:
        sc.setJobGroup("ckpt-append", "incremental run")
        ran = job.run(spark, input_table)
        names = _job_names(spark, "ckpt-append")
        assert names, "the new file's partials were not built"
        assert _checkpoint_reads(names) == []
        r = sketches_of(ran)
        sc.setJobGroup("ckpt-history", "history")
        hist = job.history(spark)
        assert _job_names(spark, "ckpt-history") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    props = job.table.current_snapshot()["properties"]
    assert props["input_snapshot_id"] == 2
    assert props["row_files"] == [os.path.abspath(input_table.files()[-1])]
    scratch = CheckpointedSketchJob(str(tmp_path / "scr"), SPECS, ["source"])
    assert r == sketches_of(scratch.run(spark, input_table))
    assert sorted(hist.toPandas().as_of_snapshot.unique()) == [1, 2]


def test_legacy_manifest_without_row_files_resumes(spark, tmp_path,
                                                   input_table):
    """A checkpoint written before commits recorded ``row_files`` (and
    schemas) is read from its rows: resume is a no-op that passes the
    gate, and history() is unchanged."""
    job = CheckpointedSketchJob(str(tmp_path / "ckpt"), SPECS, ["source"])
    r1 = sketches_of(job.run(spark, input_table))
    h1 = sketches_of(job.history(spark).drop("as_of_snapshot"))
    ckpt = job.table
    manifest = ckpt._read_manifest()
    for snap in manifest["snapshots"]:
        snap.pop("schema")
        for key in ("row_files", "input_snapshot_id"):
            snap["properties"].pop(key)
    ckpt._write_manifest(manifest)

    legacy = CheckpointedSketchJob(str(tmp_path / "ckpt"), SPECS, ["source"])
    assert legacy.covered_files(spark) == set(
        os.path.abspath(f) for f in input_table.files())
    assert sketches_of(legacy.run(spark, input_table)) == r1
    assert ckpt._read_manifest() == manifest   # nothing appended
    assert sketches_of(legacy.history(spark).drop("as_of_snapshot")) == h1


def test_run_diffs_under_the_run_lock(spark, tmp_path, input_table,
                                      monkeypatch):
    """A run that read the manifest before another run committed must not
    append the same files again: the diff is taken under the run lock."""
    import fcntl

    from grenier_spark.operators.sketch_build import build_sketches

    path = str(tmp_path / "ckpt")
    first = CheckpointedSketchJob(path, SPECS, ["source"])
    other = CheckpointedSketchJob(path, SPECS, ["source"])
    real_flock, raced = fcntl.flock, []

    def flock(f, op):
        # the first run-lock attempt lets another job run to completion
        # over the same checkpoint before the lock is really taken
        if op & fcntl.LOCK_NB and not raced:
            raced.append(None)
            raced[0] = sketches_of(other.run(spark, input_table))
        return real_flock(f, op)

    monkeypatch.setattr(fcntl, "flock", flock)
    got = sketches_of(first.run(spark, input_table))
    assert len(raced) == 1
    # only the racing run committed; the first found nothing to do
    assert len(first.table._read_manifest()["snapshots"]) == 1
    want = sketches_of(build_sketches(input_table.read(spark), SPECS,
                                      ["source"]))
    assert got == raced[0] == want


def test_run_lock_refuses_a_second_writer(spark, tmp_path, input_table):
    import fcntl

    job = CheckpointedSketchJob(str(tmp_path / "ckpt"), SPECS, ["source"])
    with open(os.path.join(job.table.path, "_run.lock"), "w") as held:
        fcntl.flock(held, fcntl.LOCK_EX | fcntl.LOCK_NB)
        with pytest.raises(RuntimeError, match="another run"):
            job.run(spark, input_table)
    assert job.table.current_snapshot() is None


def test_integrity_gate_fires_on_a_commit_that_drops_coverage(
        spark, tmp_path, input_table, monkeypatch):
    """The gate checks the committed manifest: a commit whose recorded
    lineage misses a built file fails the run instead of merging less."""
    commit = SnapshotTable._commit

    def lossy_commit(self, new_files, properties=None, schema=None):
        if properties and properties.get("row_files"):
            properties = dict(properties,
                              row_files=properties["row_files"][1:])
        return commit(self, new_files, properties, schema)

    monkeypatch.setattr(SnapshotTable, "_commit", lossy_commit)
    job = CheckpointedSketchJob(str(tmp_path / "ckpt"), SPECS, ["source"])
    with pytest.raises(RuntimeError, match="lineage integrity violation"):
        job.run(spark, input_table)


def test_reads_use_the_recorded_schema(spark, tmp_path, input_table):
    """Appends record their schema; reading with it gives the schema that
    inference gives over the same files and starts no Spark job, while an
    adopted directory (no recorded schema) is inferred."""
    sc = spark.sparkContext
    job = CheckpointedSketchJob(str(tmp_path / "ckpt"), SPECS, ["source"])
    job.run(spark, input_table)
    adopted = str(tmp_path / "adopted")
    spark.read.parquet(*input_table.files()).coalesce(1).write.parquet(adopted)
    plain = SnapshotTable.from_parquet_dir(adopted)
    assert "schema" not in plain.current_snapshot()
    for i, table in enumerate((input_table, job.table, plain)):
        inferred = spark.read.parquet(*table.files()).schema
        try:
            sc.setJobGroup(f"ckpt-read-{i}", "recorded schema")
            assert table.read(spark).schema == inferred
            started = _job_names(spark, f"ckpt-read-{i}")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert bool(started) == (table is plain), started


def test_build_us_starts_at_first_batch():
    """build_us times sketch work from the first non-empty batch, not from
    the accumulator's construction (the wait for the scan's first batch)."""
    import time

    import pyarrow as pa
    from pyspark.sql.types import StringType, StructField, StructType

    from grenier_spark.operators.sketch_build import (_TAIL_FIELDS,
                                                      _Accumulator)

    schema = StructType([StructField("source", StringType())] + _TAIL_FIELDS)
    acc = _Accumulator(SPECS, ["source"], schema)
    time.sleep(0.2)
    acc.feed(pa.record_batch(
        [pa.array(["a", "a"]), pa.array([[1, 2, 3], [4]], pa.list_(pa.int32()))],
        names=["source", "tokens"]))
    out = acc.flush()
    assert out.num_rows == len(SPECS)
    assert sum(out.column("build_us").to_pylist()) < 200_000
