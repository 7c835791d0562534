"""Spans and counters recorded from outside the engine.

The benchmark never edits the engine to trace it. ``Tracer.wrap`` swaps a
public function for a wrapper that opens a span around each call, under the
name the calling module uses: a function imported into another module is
wrapped there (``iceberg_loader_spark.loader.cast_to_schema``), because the
caller looks it up in its own namespace. Metadata I/O is counted by a
``MetadataBackend`` handed to ``Warehouse(path, backend_factory=...)``, and
Spark work by grouping each operation's jobs with ``sc.setJobGroup``.

A layer's self time is its span's duration minus the time its child spans
cover. Spans are kept in memory and written out once, at the end of a run.
"""

from __future__ import annotations

import functools
import json
import os
import time
from collections import Counter, defaultdict

from iceberg_loader_spark.tables.format import CommitConflict, LocalFSBackend


class Tracer:
    """Span stack plus per-layer self time, call counts and free counters.

    Recording happens only while ``enabled`` is true; a disabled wrapper
    costs one attribute test per call.
    """

    def __init__(self) -> None:
        self.enabled = False
        self.op_id = 0
        self.op_type = ""
        self.spans: list[tuple] = []
        self.self_s: defaultdict[str, float] = defaultdict(float)
        self.total_s: defaultdict[str, float] = defaultdict(float)
        self.calls: Counter = Counter()
        self.counts: Counter = Counter()
        self.pending_delete_files = 0
        self._stack: list[list] = []

    # ---- spans -----------------------------------------------------------

    def begin(self, layer: str) -> list:
        parent = self._stack[-1][0] if self._stack else None
        frame = [len(self.spans) + len(self._stack), layer, parent,
                 time.perf_counter(), 0.0]
        self._stack.append(frame)
        return frame

    def end(self, frame: list) -> float:
        end = time.perf_counter()
        if self._stack.pop() is not frame:
            raise RuntimeError("spans must close in the order they opened")
        span_id, layer, parent, start, child_s = frame
        dur = end - start
        self.self_s[layer] += dur - child_s
        self.total_s[layer] += dur
        self.calls[layer] += 1
        if self._stack:
            self._stack[-1][4] += dur
        self.spans.append((span_id, parent, self.op_id, layer, start, end))
        return dur

    def span(self, layer: str):
        return _Span(self, layer)

    # ---- wrapping ----------------------------------------------------------

    def wrap(
        self, owner, attr: str, layer: str, on_result=None, always=False
    ) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper.

        ``on_result(args, kwargs, result)`` runs inside the span when the
        call returns, for counters that need the call's inputs or output;
        with ``always`` it also runs while the tracer is not recording.
        """
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.enabled:
                result = fn(*args, **kwargs)
                if always:
                    on_result(args, kwargs, result)
                return result
            frame = self.begin(layer)
            try:
                result = fn(*args, **kwargs)
                if on_result is not None:
                    on_result(args, kwargs, result)
                return result
            finally:
                self.end(frame)

        setattr(owner, attr, wrapper)

    def wrap_generator(self, owner, attr: str, layer: str, on_item=None) -> None:
        """Like :meth:`wrap` for a generator function: the work happens in
        each ``next()``, so each step is its own span."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            it = fn(*args, **kwargs)
            while True:
                frame = self.begin(layer) if self.enabled else None
                try:
                    item = next(it)
                    if frame is not None and on_item is not None:
                        on_item(item)
                except StopIteration:
                    return
                finally:
                    if frame is not None:
                        self.end(frame)
                yield item

        setattr(owner, attr, wrapper)

    def dump(self, path: str) -> None:
        keys = ("id", "parent", "op", "name", "start", "end")
        with open(path, "w") as f:
            json.dump([dict(zip(keys, s)) for s in self.spans], f)


class _Span:
    def __init__(self, tracer: Tracer, layer: str):
        self.tracer, self.layer, self.frame = tracer, layer, None

    def __enter__(self):
        if self.tracer.enabled:
            self.frame = self.tracer.begin(self.layer)
        return self

    def __exit__(self, *exc):
        if self.frame is not None:
            self.tracer.end(self.frame)
        return False


class CountingBackend(LocalFSBackend):
    """The default POSIX metadata backend, counting manifest reads and the
    bytes read and written while the tracer is recording."""

    def __init__(self, root: str, tracer: Tracer):
        super().__init__(root)
        self.tracer = tracer

    def read_manifest(self, version: int) -> dict:
        payload = super().read_manifest(version)
        if self.tracer.enabled:
            self.tracer.counts["manifest_reads"] += 1
            self.tracer.counts["manifest_bytes_read"] += os.path.getsize(
                self.manifest_path(version)
            )
        return payload

    def write_manifest_exclusive(self, version: int, payload: dict) -> None:
        try:
            super().write_manifest_exclusive(version, payload)
        except CommitConflict:
            if self.tracer.enabled:
                self.tracer.counts["commit_retries"] += 1
            raise
        if self.tracer.enabled:
            self.tracer.counts["manifest_bytes_written"] += os.path.getsize(
                self.manifest_path(version)
            )


def install(tracer: Tracer) -> None:
    """Wrap the public functions of every layer the benchmark reports."""
    import pyarrow as pa

    from iceberg_loader_spark import loader
    from iceberg_loader_spark.tables import format as fmt
    from iceberg_loader_spark.tables import maintenance, table

    counts = tracer.counts

    def count_arrow_in(args, kwargs, result):
        if isinstance(args[1], pa.Table):
            counts["arrow_bytes_in"] += args[1].nbytes

    tracer.wrap(loader.SparkLoader, "load_data", "loader", on_result=count_arrow_in)
    tracer.wrap_generator(
        loader, "create_record_batches_from_dicts", "normalize.dict_to_arrow",
        on_item=lambda batch: counts.update(arrow_bytes_in=batch.nbytes),
    )
    tracer.wrap(loader, "cast_to_schema", "normalize.cast")
    tracer.wrap(table.Table, "append", "table.append")
    tracer.wrap(table.Table, "merge", "table.merge")
    tracer.wrap(table.Table, "delete_where", "table.delete_where")
    tracer.wrap(table.Table, "scan", "table.scan_plan")

    def count_pruned(args, kwargs, result):
        counts[f"files_total.{tracer.op_type}"] += len(args[1])
        counts[f"files_planned.{tracer.op_type}"] += len(result[0])

    tracer.wrap(table, "prune_files", "filters.prune", on_result=count_pruned)
    tracer.wrap(fmt.TableMetadata, "load_snapshot", "format.load_snapshot")

    # the files and delete files of the last snapshot committed per table,
    # to diff each commit against its parent without reading it back
    last: dict[str, tuple[dict[str, int], int]] = {}

    def count_commit(args, kwargs, result):
        meta, snap = args[0], args[1]
        prev_files, prev_dels = last.get(meta.root, ({}, 0))
        files = {f.path: f.bytes for f in snap.files}
        added = [p for p in files if p not in prev_files]
        removed = sum(1 for p in prev_files if p not in files)
        added_bytes = sum(files[p] for p in added)
        last[meta.root] = (files, len(snap.delete_files))
        tracer.pending_delete_files = len(snap.delete_files)
        if not tracer.enabled:
            return
        if tracer.op_type == "compaction":
            counts["compaction_commits"] += 1
            counts["maintenance_files_before"] += len(prev_files) + prev_dels
            counts["maintenance_files_after"] += len(files) + len(snap.delete_files)
            counts["maintenance_bytes_rewritten"] += added_bytes
            return
        counts["commits"] += 1
        counts["files_added"] += len(added)
        counts["bytes_added"] += added_bytes
        counts["files_rewritten"] += removed

    tracer.wrap(
        fmt.TableMetadata, "commit", "format.commit", on_result=count_commit,
        always=True,
    )
    tracer.wrap(maintenance, "rewrite_data_files", "maintenance.rewrite")
    tracer.wrap(maintenance, "expire_snapshots", "maintenance.expire")


class SparkJobs:
    """Per-operation Spark job, stage and task counts via job groups.

    Each operation runs under its own job group; the counts are read once,
    after the run, when the listener bus has drained — reading them right
    after an action can miss events still in flight.
    """

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.groups: list[tuple[str, str]] = []  # (group id, op type)

    def start(self, op_id: int, op_type: str) -> None:
        gid = f"perfbench-{op_id}"
        self.groups.append((gid, op_type))
        self.sc.setJobGroup(gid, op_type)

    def stop(self) -> None:
        self.sc._jsc.clearJobGroup()

    def totals(self) -> dict[str, dict[str, int]]:
        """``{group id: {"jobs", "stages", "tasks"}}`` for every group."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        out = {}
        for gid, _ in self.groups:
            jobs = tracker.getJobIdsForGroup(gid)
            stages = tasks = 0
            for job in jobs:
                info = tracker.getJobInfo(job)
                for sid in info.stageIds if info else []:
                    stage = tracker.getStageInfo(sid)
                    if stage is not None:
                        stages += 1
                        tasks += stage.numTasks
            out[gid] = {"jobs": len(jobs), "stages": stages, "tasks": tasks}
        return out
