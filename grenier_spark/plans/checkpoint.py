"""Checkpoint/resume for sketch builds with per-file lineage + metrics.

North-rule requirement: "resumable from checkpoint with per-partition
lineage + metrics". The lineage unit is the INPUT DATA FILE (the stable
identity under Iceberg-style snapshots; task-level partition ids are not
stable across runs, file paths are):

1. under the single-writer run lock, diff the pinned input snapshot's file
   list against the files the checkpoint already covers, read from the
   checkpoint manifest: each commit records ``row_files`` (the input files
   its partial rows came from) and ``covered_files`` (inputs that produced
   zero rows), so the diff starts no Spark job. A checkpoint with a commit
   written before ``row_files`` existed is read from its rows, once;
2. build partial sketches ONLY for unseen files, grouped by
   ``input_file_name()`` so each checkpoint row carries (file, group, spec,
   sketch bytes, n_rows, n_values, build_us) — lineage + metrics in one row;
3. write the new partials once, straight to staging, and read their
   ``lineage_file`` column back from the staged parquet (pyarrow, driver
   side): a lineage path outside the diff aborts the commit, and the
   values read back become the commit's ``row_files``. Data files land
   first, manifest last — a crash in between leaves orphan parquet that the
   manifest never references, so replays are idempotent;
4. the final answer is the associative merge of ALL checkpoint partials,
   after the integrity gate (every wanted input file is in some commit's
   ``row_files`` or ``covered_files``) passes on the manifest.

Because HLL/CMS/Bloom merges are byte-exact associative and each input file
is covered exactly once, a resumed job produces BIT-IDENTICAL final states
to an uninterrupted run (asserted in tests/test_checkpoint.py).
"""

from __future__ import annotations

import os
from collections import defaultdict

import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.sketch_build import SketchSpec, build_sketches, merge_partials
from ..sources.tableio import SnapshotTable


class CheckpointedSketchJob:
    def __init__(self, checkpoint_dir: str, specs: "list[SketchSpec]",
                 group_cols: "list[str] | None" = None, fanout: int = 32):
        self.table = SnapshotTable(checkpoint_dir)
        self.specs = list(specs)
        self.group_cols = list(group_cols or [])
        self.fanout = fanout
        self._legacy_rows: "tuple | None" = None

    # -- lineage ------------------------------------------------------------

    def covered_files(self, spark) -> "set[str]":
        """Input files already processed: every checkpoint commit's
        ``row_files`` plus its ``covered_files`` (an EMPTY input file
        legitimately produces zero partial rows, so only the declaration
        covers it)."""
        row_files, declared = self._lineage(spark)
        return declared.union(*row_files.values())

    def _lineage(self, spark) -> "tuple[dict, set]":
        """(input snapshot id -> files with checkpoint rows, files declared
        covered with zero rows), from the manifest. Commits up to the last
        one that lacks ``row_files`` (written before it was recorded) are
        read from their rows instead: one Spark scan, kept on the job since
        committed snapshots never change."""
        snaps = self.table._read_manifest()["snapshots"]
        row_files: dict = defaultdict(set)
        declared: set = set()
        legacy = [s for s in snaps
                  if "row_files" not in s.get("properties", {})]
        if legacy and legacy[-1]["files"]:
            key = (legacy[-1]["id"], legacy[-1]["ts"])
            if self._legacy_rows is None or self._legacy_rows[0] != key:
                rows = (self.table.read(spark, legacy[-1]["id"])
                        .select("snapshot_id", "lineage_file").distinct()
                        .collect())
                self._legacy_rows = (key, [tuple(r) for r in rows])
            for sid, f in self._legacy_rows[1]:
                row_files[sid].add(f)
        for s in snaps:
            p = s.get("properties", {})
            declared.update(p.get("covered_files", []))
            if "row_files" in p:
                row_files[p["input_snapshot_id"]].update(p["row_files"])
        return row_files, declared

    def metrics(self, spark) -> DataFrame:
        """Per-file lineage + metrics rows (the checkpoint content itself)."""
        return self.table.read(spark)

    # -- run ----------------------------------------------------------------

    def run(self, spark, input_table: SnapshotTable,
            snapshot_id: "int | None" = None) -> DataFrame:
        """Process unseen input files, checkpoint their partials, return the
        merged result over everything covered so far."""
        snap = input_table.snapshot(snapshot_id)
        if snap is None:
            raise ValueError("input table has no snapshot")
        # abspath: lineage from input_file_name() is always absolute, so a
        # relative input_table.path would trip the stray-lineage gate on
        # every legitimate run (and the isin merge filter would miss)
        want = {os.path.abspath(os.path.join(input_table.path, f))
                for f in snap["files"]}

        # single-writer guard for the whole diff->build->append window:
        # the manifest lock in SnapshotTable only serializes the COMMIT,
        # so two concurrent run()s would both see the same todo and
        # double-append file F's partials — CMS counts and n_rows for F
        # would merge twice (HLL/Bloom would mask it; counts cannot). The
        # diff is taken only once the lock is held: a run that read the
        # manifest before another run committed would append F again.
        import fcntl

        os.makedirs(self.table.path, exist_ok=True)
        run_lock = open(os.path.join(self.table.path, "_run.lock"), "w")
        try:
            fcntl.flock(run_lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except OSError:
            run_lock.close()
            raise RuntimeError(
                f"another run() holds {self.table.path}/_run.lock — "
                f"concurrent runs on one checkpoint would double-count "
                f"input files") from None
        try:
            return self._run_locked(spark, input_table, want, snap)
        finally:
            run_lock.close()

    def _run_locked(self, spark, input_table: SnapshotTable, want: set,
                    snap) -> DataFrame:
        todo = sorted(want - self.covered_files(spark))
        if todo:
            src = (input_table.read_files(spark, todo)
                   .withColumn("lineage_file", F.input_file_name()))
            partials = build_sketches(
                src, self.specs, group_cols=["lineage_file"] + self.group_cols,
                fanout=self.fanout)
            # normalize the URI scheme input_file_name() prepends:
            # 'file:///p' and 'file:/p' both become '/p' (matching the
            # manifest-derived paths); stripping only '^file:' would leave
            # '///p' and silently break lineage matching
            partials = partials.withColumn(
                "lineage_file",
                F.regexp_replace("lineage_file", "^file:(//)?", ""))
            partials = partials.withColumn(
                "snapshot_id", F.lit(snap["id"]).cast("long"))

            def lineage_of(staged: "list[str]") -> dict:
                seen: set = set()
                for path in staged:
                    col = pq.read_table(path, columns=["lineage_file"])[0]
                    seen.update(pc.unique(col).to_pylist())
                # a lineage value NOT in todo is the normalization-regression
                # signal itself: failing here keeps the zero-row declaration
                # from laundering every file past the integrity gate below
                stray = seen - set(todo)
                if stray:
                    raise RuntimeError(
                        f"lineage normalization mismatch: {len(stray)} "
                        f"partial lineage paths not in the input file list "
                        f"(e.g. {sorted(stray)[:2]})")
                # declare coverage ONLY for files that produced zero partial
                # rows (empty/all-null inputs); files with rows are covered
                # by the lineage values actually written, never by todo
                return {"input_snapshot_id": snap["id"],
                        "row_files": sorted(seen),
                        "covered_files": sorted(set(todo) - seen)}

            self.table.append(partials, before_commit=lineage_of)

        # lineage integrity gate, on the committed manifest: every wanted
        # input file must either carry checkpoint rows or be declared
        # covered — a path-format mismatch here would otherwise silently
        # merge nothing, while a legitimately empty input file must NOT
        # fail the run
        row_files, declared = self._lineage(spark)
        row_cov = want & set().union(*row_files.values())
        missing = want - row_cov - declared
        if missing:
            raise RuntimeError(
                f"lineage integrity violation: {len(missing)}/{len(want)} "
                f"input files covered by neither checkpoint rows nor a "
                f"coverage declaration: {sorted(missing)[:3]}...")
        if self.table.files():
            merged_rows = self.table.read(spark).where(
                F.col("lineage_file").isin(list(want)))
        else:
            # every covered input was empty: synthesize a zero-row partials
            # frame with the right schema so the final merge yields an empty
            # (not erroring) result
            merged_rows = build_sketches(
                input_table.read_files(spark, sorted(want)).limit(0)
                .withColumn("lineage_file", F.input_file_name()),
                self.specs,
                group_cols=["lineage_file"] + self.group_cols,
                fanout=self.fanout).withColumn(
                    "snapshot_id", F.lit(0).cast("long"))
        # each covered file holds one row per (group, spec)
        return self._final_merge(merged_rows, len(row_cov))

    def history(self, spark) -> DataFrame:
        """Metric evolution across input snapshots from checkpoint state
        ALONE — the merge-tree query: for each input snapshot id present in
        the checkpoint, the associative merge of every partial with
        ``snapshot_id <= s`` is exactly the sketch "as of" s (each run
        covers precisely that snapshot's new files, and the merges are
        associative), so the full time series costs zero raw-data rescans —
        only KB-sized sketch rows move. Returns the merged sketch rows
        (same schema as :meth:`run`'s result) plus ``as_of_snapshot``;
        decode with the usual estimators. Snapshots whose inputs were all
        empty contribute no partial rows and therefore have NO
        ``as_of_snapshot`` row here (the series skips them; the state "as
        of" such a snapshot equals the previous emitted row) — consumers
        wanting a dense series should forward-fill on snapshot id. The
        file counts that bound each merge come from the commits'
        ``row_files``, so no Spark job starts before the result is
        collected.

        At 10^12 sequences this is the operational dashboard query —
        "distinct tokens per source, by ingest day" — answered from the
        checkpoint table an Iceberg catalog would hold anyway."""
        if not self.table.files():
            raise ValueError("checkpoint holds no partials — run() first")
        row_files, _ = self._lineage(spark)
        rows = self.table.read(spark)
        out = None
        for s in sorted(t for t, fs in row_files.items() if fs):
            # few snapshots; each merge is a KB-row Spark job
            n_files = sum(len(fs) for t, fs in row_files.items() if t <= s)
            m = (self._final_merge(rows.where(F.col("snapshot_id") <= s),
                                   n_files)
                 .withColumn("as_of_snapshot", F.lit(s).cast("long")))
            out = m if out is None else out.unionByName(m)
        return out

    def _final_merge(self, partial_rows: DataFrame,
                     n_files: int) -> DataFrame:
        """Merge per-file rows over ``n_files`` lineage files: each file
        holds one row per (group, spec), so no merge key gets more."""
        kind_of = {s.name: s.kind for s in self.specs}
        rows = partial_rows.drop("snapshot_id")
        # the per-file rows are already level-2 outputs for their file; the
        # cross-file merge groups only by (group, spec)
        rows = rows.withColumn("part_id",
                               F.abs(F.hash("lineage_file")).cast("int"))
        rows = rows.drop("lineage_file")
        return merge_partials(rows, kind_of, self.group_cols, self.fanout,
                              n_files)
