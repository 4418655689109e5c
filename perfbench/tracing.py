"""Spans around the calls into each layer, recorded from outside the program.

A :class:`Tracer` patches the program's public functions at every name a
caller can resolve them by: the defining module's attribute (which also
serves function-local ``from .x import f`` imports, resolved at call time)
and every module of the package that bound the same function object with a
module-level ``from ... import``.  Each span gets its own Spark job group,
so ``statusTracker`` attributes jobs, stages and tasks to the span that ran
them.  Spans live in memory until :meth:`Tracer.dump` writes them out.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import json
import os
import sys
import time
from collections.abc import Callable, Iterator
from dataclasses import asdict, dataclass, field

PKG = "spacex_data_pipeline_spark"

# (module, function, span name) for every layer boundary the trace records.
TARGETS: tuple[tuple[str, str, str], ...] = (
    ("catalog", "table", "catalog"),
    ("operators.dedup", "materialize", "operators.dedup.materialize"),
    ("operators.dedup", "connected_components", "operators.dedup.cc"),
    ("sources.rest_api", "ingest", "sources.rest_api.ingest"),
    ("sources.rest_api", "normalize", "sources.rest_api.ingest"),
    ("sources.sinks", "append", "sources.sinks.write"),
    ("sources.sinks", "overwrite", "sources.sinks.write"),
    ("sources.sinks", "write_snapshot", "sources.sinks.write"),
    ("sources.sinks", "upsert_by_key", "sources.sinks.write"),
    ("sources.sinks", "compact", "sources.sinks.write"),
    ("plans.warehouse", "run_spacex_pipeline", "plans.warehouse.day"),
    ("plans.materialize", "materialize_table", "plans.materialize.table"),
    ("streaming.ingest", "stream_events_from_files", "streaming.catchup"),
    ("streaming.ingest", "run_available_now_to_parquet", "streaming.catchup"),
    ("__main__", "main", "cli.prep_training"),
)


@dataclass
class Span:
    id: int
    name: str
    op: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"perfbench-span-{self.id}"

    @property
    def dur(self) -> float:
        return self.end - self.start


def dir_files(path: str) -> dict[str, tuple[int, int]]:
    """relative path -> (size, mtime_ns) of every file under ``path``."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            st = os.stat(p)
            out[os.path.relpath(p, path)] = (st.st_size, st.st_mtime_ns)
    return out


def _out_path(span_name: str, arguments: dict) -> str | None:
    """The directory a sink call or a prep-training run writes to."""
    if span_name == "sources.sinks.write":
        return arguments["path"]
    if span_name == "cli.prep_training":
        argv = list(arguments["argv"])
        return argv[argv.index("--out") + 1]
    return None


def written_since(path: str, before: dict[str, tuple[int, int]]) -> tuple[int, int]:
    """(data files, bytes) under ``path`` that are new or rewritten since
    ``before``; bytes count every such file, files count parquet parts."""
    files = nbytes = 0
    for rel, meta in dir_files(path).items():
        if before.get(rel) != meta:
            nbytes += meta[0]
            files += rel.endswith(".parquet")
    return files, nbytes


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._op = ""
        self._patched: list[tuple[object, str, object]] = []
        self.streaming_queries: list = []

    # -- spans -------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, **attrs) -> Iterator[Span]:
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, self._op, parent.id if parent else None,
                 time.perf_counter(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.group, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    @contextlib.contextmanager
    def op(self, op_id: str) -> Iterator[Span]:
        self._op = op_id
        with self.span("op") as s:
            yield s

    # -- patching ----------------------------------------------------------
    def install(self) -> None:
        for mod_name, fn_name, span_name in TARGETS:
            module = importlib.import_module(f"{PKG}.{mod_name}")
            orig = getattr(module, fn_name)
            self._patch_everywhere(orig, self._wrap(orig, span_name))
        self._patch_stream_start()

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def _patch_everywhere(self, orig, wrapper) -> None:
        for name, module in list(sys.modules.items()):
            if module is None or not (name == PKG or name.startswith(PKG + ".")):
                continue
            for attr, value in list(vars(module).items()):
                if value is orig:
                    self._patched.append((module, attr, orig))
                    setattr(module, attr, wrapper)

    def _wrap(self, orig: Callable, span_name: str) -> Callable:
        sig = inspect.signature(orig)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            path = _out_path(span_name, sig.bind(*args, **kwargs).arguments)
            before = dir_files(path) if path and os.path.isdir(path) else {}
            with self.span(span_name, fn=orig.__name__) as s:
                result = orig(*args, **kwargs)
            if path:
                s.attrs["path"] = path
                s.attrs["files"], s.attrs["bytes"] = written_since(path, before)
            return result

        return traced

    def _patch_stream_start(self) -> None:
        # Streaming micro-batches run on the query's own thread under a job
        # group named by its run id; keep the query to count them afterwards.
        from pyspark.sql.streaming.readwriter import DataStreamWriter

        orig = DataStreamWriter.start

        @functools.wraps(orig)
        def start(writer, *args, **kwargs):
            q = orig(writer, *args, **kwargs)
            self.streaming_queries.append((self._stack[-1].id if self._stack else None, q))
            return q

        self._patched.append((DataStreamWriter, "start", orig))
        DataStreamWriter.start = start

    # -- job accounting ----------------------------------------------------
    def jobs_by_span(self) -> dict[int, list[int]]:
        st = self.sc.statusTracker()
        out = {s.id: list(st.getJobIdsForGroup(s.group)) for s in self.spans}
        for span_id, q in self.streaming_queries:
            if span_id is not None:
                out[span_id].extend(st.getJobIdsForGroup(str(q.runId)))
        return out

    def stage_counts(self, job_ids: list[int]) -> dict[str, int]:
        """stages that ran, their completed tasks, and how many ran as a
        single task, over the given jobs (stages reused from an earlier
        job's shuffle complete no task and are not counted)."""
        st = self.sc.statusTracker()
        stage_ids = set()
        for jid in job_ids:
            info = st.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        stages = tasks = serial = 0
        for sid in stage_ids:
            info = st.getStageInfo(sid)
            if info is None or info.numCompletedTasks == 0:
                continue
            stages += 1
            tasks += info.numCompletedTasks
            serial += info.numTasks == 1
        return {"stages": stages, "tasks": tasks, "serial_stages": serial}

    def dump(self, path: str, jobs: dict[int, list[int]]) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                rec = asdict(s)
                rec["jobs"] = jobs.get(s.id, [])
                f.write(json.dumps(rec, default=str) + "\n")


def children(spans: list[Span]) -> dict[int | None, list[Span]]:
    out: dict[int | None, list[Span]] = {}
    for s in spans:
        out.setdefault(s.parent, []).append(s)
    return out


def outermost(spans: list[Span], name: str) -> list[Span]:
    """Spans called ``name`` that have no ancestor of the same name, so
    nested calls are not counted twice."""
    by_id = {s.id: s for s in spans}

    def nested(s: Span) -> bool:
        p = s.parent
        while p is not None:
            if by_id[p].name == name:
                return True
            p = by_id[p].parent
        return False

    return [s for s in spans if s.name == name and not nested(s)]
