"""Checkpoint/resume for sketch builds with per-file lineage + metrics.

North-rule requirement: "resumable from checkpoint with per-partition
lineage + metrics". The lineage unit is the INPUT DATA FILE (the stable
identity under Iceberg-style snapshots; task-level partition ids are not
stable across runs, file paths are):

1. diff the pinned input snapshot's file list against the files already
   covered by the checkpoint;
2. build partial sketches ONLY for unseen files, grouped by
   ``input_file_name()`` so each checkpoint row carries (file, group, spec,
   sketch bytes, n_rows, n_values, build_us) — lineage + metrics in one row;
3. append the new partials to the checkpoint table atomically (data files
   first, manifest last — a crash in between leaves orphan parquet that the
   manifest never references, so replays are idempotent);
4. the final answer is the associative merge of ALL checkpoint partials.

Because HLL/CMS/Bloom merges are byte-exact associative and each input file
is covered exactly once, a resumed job produces BIT-IDENTICAL final states
to an uninterrupted run (asserted in tests/test_checkpoint.py).
"""

from __future__ import annotations

import os

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

    # -- lineage ------------------------------------------------------------

    def covered_files(self, spark) -> "set[str]":
        """Input files already processed = union of every checkpoint
        snapshot's declared coverage (manifest properties — the authority,
        since an EMPTY input file legitimately produces zero partial rows)
        plus the row-level lineage (covers checkpoints written before
        coverage declarations existed)."""
        if self.table.current_snapshot() is None:
            return set()
        declared = self._declared_files()
        if not self.table.files():
            # snapshots exist but no data files yet (all inputs so far were
            # empty) — coverage lives only in the declarations
            return declared
        rows = (self.table.read(spark).select("lineage_file").distinct()
                .collect())
        return declared | {r.lineage_file for r in rows}

    def _declared_files(self) -> "set[str]":
        out: set = set()
        for s in self.table._read_manifest()["snapshots"]:
            out.update(s.get("properties", {}).get("covered_files", []))
        return out

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
        have = self.covered_files(spark)
        todo = sorted(want - have)

        # single-writer guard for the whole diff->build->append window:
        # the manifest lock in SnapshotTable only serializes the COMMIT,
        # so two concurrent run()s would both see the same todo and
        # double-append file F's partials — CMS counts and n_rows for F
        # would merge twice (HLL/Bloom would mask it; counts cannot)
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
            return self._run_locked(spark, want, todo, snap)
        finally:
            run_lock.close()

    def _run_locked(self, spark, want: set, todo: list, snap) -> DataFrame:

        if todo:
            src = (spark.read.parquet(*todo)
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
            # declare coverage ONLY for files that produced zero partial
            # rows (empty/all-null inputs): those can't prove themselves at
            # the row-level gate below. Files WITH rows must keep proving
            # row-level coverage, so a lineage-path normalization regression
            # still trips the integrity gate instead of being declared away.
            # persist() makes the build run once: the distinct() pass and
            # the append both read the cached KB-sized sketch rows.
            partials = partials.persist()
            try:
                seen = {r.lineage_file for r in
                        partials.select("lineage_file").distinct().collect()}
                # a lineage value NOT in todo is the normalization-regression
                # signal itself: failing here keeps the zero-row declaration
                # from laundering every file past the row-level gate below
                stray = seen - set(todo)
                if stray:
                    raise RuntimeError(
                        f"lineage normalization mismatch: {len(stray)} "
                        f"partial lineage paths not in the input file list "
                        f"(e.g. {sorted(stray)[:2]})")
                zero_row = sorted(set(todo) - seen)
                self.table.append(partials,
                                  properties={"covered_files": zero_row})
            finally:
                partials.unpersist()

        if self.table.files():
            merged_rows = self.table.read(spark).where(
                F.col("lineage_file").isin(list(want)))
        else:
            # every covered input was empty: synthesize a zero-row partials
            # frame with the right schema so the final merge yields an empty
            # (not erroring) result
            merged_rows = build_sketches(
                spark.read.parquet(*sorted(want)).limit(0)
                .withColumn("lineage_file", F.input_file_name()),
                self.specs,
                group_cols=["lineage_file"] + self.group_cols,
                fanout=self.fanout).withColumn(
                    "snapshot_id", F.lit(0).cast("long"))
        # lineage integrity gate: every wanted input file must either carry
        # checkpoint rows or be declared covered by a snapshot commit — a
        # path-format mismatch here would otherwise silently merge nothing,
        # while a legitimately empty input file must NOT fail the run
        row_cov = {r.lineage_file for r in
                   merged_rows.select("lineage_file").distinct().collect()}
        missing = want - row_cov - self._declared_files()
        if missing:
            raise RuntimeError(
                f"lineage integrity violation: {len(missing)}/{len(want)} "
                f"input files covered by neither checkpoint rows nor a "
                f"coverage declaration: {sorted(missing)[:3]}...")
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
        wanting a dense series should forward-fill on snapshot id.

        At 10^12 sequences this is the operational dashboard query —
        "distinct tokens per source, by ingest day" — answered from the
        checkpoint table an Iceberg catalog would hold anyway."""
        rows = self.table.read(spark) if self.table.files() else None
        if rows is None:
            raise ValueError("checkpoint holds no partials — run() first")
        lineage = (rows.select("snapshot_id", "lineage_file").distinct()
                   .collect())
        sids = sorted({r.snapshot_id for r in lineage})
        out = None
        for s in sids:  # few snapshots; each merge is a KB-row Spark job
            n_files = sum(r.snapshot_id <= s for r in lineage)
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
