"""What the benchmark observes from outside the engine.

``RoundClock`` is always on: it notes when each ``CheckpointLog.commit``
returns (a crawl round ends there) and which files the run directory holds
at that moment, so files that a later vacuum deletes are still counted as
written. ``Tracer`` is on only in the traced run: it wraps the public
callables of each layer by attribute, records one span per call and labels
the Spark jobs the call starts with the span's id, so the event log can
assign jobs, stages and shuffle bytes to spans afterwards.
"""

from __future__ import annotations

import functools
import itertools
import os
import threading
import time


def inventory(root: str) -> dict[str, int]:
    """path -> size of every file under *root*."""
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                out[p] = os.path.getsize(p)
            except FileNotFoundError:  # removed between listing and stat
                pass
    return out


def process_start_epoch() -> float:
    """Wall-clock time at which this process started (from /proc)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0


def peak_rss_mb(jvm_pid: int) -> float:
    """VmHWM of the Spark JVM plus that of its largest Python descendant."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (FileNotFoundError, ProcessLookupError):
            continue
        children.setdefault(ppid, []).append(int(name))
    stack, workers = list(children.get(jvm_pid, [])), []
    while stack:
        pid = stack.pop()
        workers.append(pid)
        stack.extend(children.get(pid, []))
    largest = max((_vm_hwm_kb(p) for p in workers), default=0)
    return (_vm_hwm_kb(jvm_pid) + largest) / 1024.0


class RoundClock:
    """Commit-return times and run-directory inventories of a crawl."""

    def __init__(self):
        self.marks: list[tuple[str, float]] = []  # ("start"|"commit", time)
        self.seen_files: dict[str, int] = {}
        self.root: str | None = None
        self._orig = None

    def install(self) -> None:
        from tor_spider_spark.sources.tables import CheckpointLog

        orig = self._orig = CheckpointLog.commit
        clock = self

        @functools.wraps(orig)
        def commit(log, round_no, versions, extra=None):
            out = orig(log, round_no, versions, extra)
            clock.marks.append(("commit", time.time()))
            if clock.root is not None:
                clock.seen_files.update(inventory(clock.root))
            return out

        CheckpointLog.commit = commit

    def uninstall(self) -> None:
        from tor_spider_spark.sources.tables import CheckpointLog

        CheckpointLog.commit = self._orig

    def begin(self, root: str) -> None:
        self.marks, self.seen_files, self.root = [], {}, root

    def start_mark(self) -> None:
        self.marks.append(("start", time.time()))

    def round_walls(self) -> list[float]:
        walls, last = [], None
        for kind, t in self.marks:
            if kind == "commit" and last is not None:
                walls.append(t - last)
            last = t
        return walls

    def rounds(self) -> list[tuple[float, float]]:
        out, last = [], None
        for kind, t in self.marks:
            if kind == "commit" and last is not None:
                out.append((last, t))
            last = t
        return out

    def written(self) -> dict[str, int]:
        """Every file seen at a commit or now: what the pass wrote."""
        files = dict(self.seen_files)
        files.update(inventory(self.root))
        return files


class Tracer:
    """In-memory spans around calls into the engine's layers."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.round: int | None = None
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list = []
        self.claims: list[float] = []  # frontier claim bytes / live bytes

    def span(self, name: str, fn, *args, **kwargs):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        sid = next(self._ids)
        rec = {"id": sid, "name": name, "parent": stack[-1] if stack else None,
               "round": self.round, "thread": threading.get_ident()}
        prev = self.sc.getLocalProperty("spark.job.description")
        self.sc.setJobDescription(f"span={sid} {name} r{self.round}")
        stack.append(sid)
        rec["start"] = time.time()
        try:
            return fn(*args, **kwargs)
        finally:
            rec["end"] = time.time()
            stack.pop()
            self.sc.setLocalProperty("spark.job.description", prev)
            with self._lock:
                self.spans.append(rec)

    def cost_per_span(self, n: int = 500) -> float:
        """Seconds one span adds around a call that does nothing."""
        t0 = time.perf_counter()
        for _ in range(n):
            self.span("cost", int)
        return (time.perf_counter() - t0) / n

    def wrap(self, owner, attr: str, namer) -> None:
        """Replace owner.attr by a spanning wrapper; namer(args) -> name."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapped(*args, **kwargs):
            return tracer.span(namer(args), orig, *args, **kwargs)

        setattr(owner, attr, wrapped)
        self._undo.append((owner, attr, orig))

    def install_engine(self) -> None:
        """Wrap the crawl-engine layers named in the benchmark README."""
        from tor_spider_spark.operators import bloom, filters, politeness
        from tor_spider_spark.plans import driver
        from tor_spider_spark.sources import tables

        tracer = self
        orig_run_round = driver.run_round

        def run_round(round_no, *args, **kwargs):
            tracer.round = round_no
            return tracer.span("crawl_round.run_round", orig_run_round, round_no, *args, **kwargs)

        driver.run_round = run_round
        self._undo.append((driver, "run_round", orig_run_round))
        for m in ("append", "overwrite", "claim_merge", "upsert_keys", "compact", "vacuum", "row_count"):
            self.wrap(tables.SnapshotTable, m, lambda a, m=m: f"tables.{a[0].name}.{m}")
        spanned_claim = tables.SnapshotTable.claim_merge

        def claim_merge(table, *args, **kwargs):
            v = spanned_claim(table, *args, **kwargs)
            parent = kwargs.get("parent")
            live = table.version_new_bytes(v, 0)
            if table.name == "frontier" and parent is not None and live:
                tracer.claims.append(table.version_new_bytes(v, parent) / live)
            return v

        tables.SnapshotTable.claim_merge = claim_merge
        self.wrap(tables.CheckpointLog, "commit", lambda a: "tables.checkpoint_commit")
        self.wrap(bloom.BloomShards, "probe", lambda a: "bloom.probe_build")
        self.wrap(politeness, "collapse_candidates", lambda a: "politeness.collapse_candidates")
        self.wrap(politeness, "schedule_round", lambda a: "politeness.schedule_round")
        self.wrap(filters, "admit", lambda a: "filters.admit")

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()
