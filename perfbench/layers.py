"""Per-layer metrics of one traced pass, from its spans and the event log.

Every workload reports every metric; a layer the workload does not reach
reads 0. Per-round figures are medians over the pass's rounds unless the
name says otherwise (``*_per_round`` are means, ``mb_written`` and
``files_written`` are pass totals).
"""

from __future__ import annotations

import os
import statistics

import inputs

TABLE_WRITES = {
    "frontier": "claim_merge",
    "host_state": "upsert_keys",
    "seen": "append",
    "pages": "append",
    "schedule": "append",
    "metrics": "append",
    "bloom_shards": "overwrite",
}
_WRITE_METHODS = ("append", "overwrite", "claim_merge", "upsert_keys")


def names(workload: str | None = None) -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric a workload reports:
    the list in BENCHMARK.json, plus one per query on query_suite, which
    is run by hand (see README)."""
    out = [
        ("session.start_s", "s", "lower"),
        ("peak_rss_mb", "MB", "lower"),
        ("trace.overhead_s", "s", "lower"),
        ("driver.self_s", "s", "lower"),
        ("driver.jobs_per_round", "count", "lower"),
        ("driver.stages_per_round", "count", "lower"),
        ("crawl_round.run_round_s", "s", "lower"),
        ("crawl_round.shuffle_mb", "MB", "lower"),
        ("tables.write_phase_s", "s", "lower"),
    ]
    out += [(f"tables.{t}.{m}_s", "s", "lower") for t, m in TABLE_WRITES.items()]
    for t in TABLE_WRITES:
        out += [(f"tables.{t}.mb_written", "MB", "lower"), (f"tables.{t}.files_written", "count", "lower")]
    out += [
        ("tables.frontier.rewrite_ratio", "ratio", "lower"),
        ("tables.checkpoint_commit_s", "s", "lower"),
        ("politeness.schedule_s", "s", "lower"),
        ("politeness.rank_skew", "ratio", "lower"),
        ("filters.admit_s", "s", "lower"),
        ("core_round.shuffle_mb", "MB", "lower"),
    ]
    if workload == "query_suite":
        out += [(f"query.{q}_s", "s", "lower") for q in inputs.QUERY_NAMES]
    return out


def _med(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _mean(xs) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def _union(intervals) -> float:
    total, end = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e > end:
            total += e - max(s, end)
            end = e
    return total


def compute(workload: str, p, spans: list[dict], log, claims: list[float]) -> dict[str, float]:
    """p: the traced workloads.Pass; log: its eventlog.EventLog."""
    m = {name: 0.0 for name, _u, _b in names(workload)}
    dur = lambda s: s["end"] - s["start"]  # noqa: E731
    spans = [s for s in spans if p.spans_from <= s["start"] <= p.spans_to]
    by_id = {s["id"]: s for s in spans}
    jobs = [j for j in log.jobs if p.spans_from <= j.submit_s <= p.spans_to]

    def lineage(sid):
        while sid in by_id:
            yield by_id[sid]
            sid = by_id[sid]["parent"]

    def jobs_of(span_names) -> list:
        """Jobs started inside a span of one of these names, or a child."""
        return [j for j in jobs if any(s["name"] in span_names for s in lineage(j.span))]

    if workload == "crawl":
        rounds = p.detail["rounds"]
        top = [s for s in spans if s["parent"] is None]
        selfs, njobs, nstages, phases = [], [], [], []
        for a, b in rounds:
            inside = [(max(s["start"], a), min(s["end"], b)) for s in top if s["end"] > a and s["start"] < b]
            selfs.append((b - a) - _union(inside))
            rj = [j for j in jobs if a <= j.submit_s < b]
            njobs.append(len(rj))
            nstages.append(sum(len(log.job_stages(j)) for j in rj))
            writes = [s for s in top if s["name"].rsplit(".", 1)[1] in _WRITE_METHODS and a <= s["start"] < b]
            if writes:
                phases.append(max(s["end"] for s in writes) - min(s["start"] for s in writes))
        m["driver.self_s"] = _med(selfs)
        m["driver.jobs_per_round"] = _mean(njobs)
        m["driver.stages_per_round"] = _mean(nstages)
        m["tables.write_phase_s"] = _med(phases)
        rr = [s for s in spans if s["name"] == "crawl_round.run_round"]
        m["crawl_round.run_round_s"] = _med([dur(s) for s in rr])
        m["crawl_round.shuffle_mb"] = log.shuffle_write_bytes(jobs_of({"crawl_round.run_round"})) / 1e6 / max(len(rr), 1)
        for t, meth in TABLE_WRITES.items():
            m[f"tables.{t}.{meth}_s"] = _med([dur(s) for s in top if s["name"] == f"tables.{t}.{meth}"])
        root = p.detail["root"]
        for path, size in p.detail["written"].items():
            t = os.path.relpath(path, root).split(os.sep)[0]
            if t in TABLE_WRITES:
                m[f"tables.{t}.mb_written"] += size / 1e6
                if path.endswith(".parquet"):
                    m[f"tables.{t}.files_written"] += 1
        m["tables.frontier.rewrite_ratio"] = _mean(claims)
        m["tables.checkpoint_commit_s"] = _med([dur(s) for s in spans if s["name"] == "tables.checkpoint_commit"])
    elif workload == "core_round":
        sched = [s for s in spans if s["name"] == "core.schedule"]
        m["politeness.schedule_s"] = _med([dur(s) for s in sched])
        m["filters.admit_s"] = _med([dur(s) for s in spans if s["name"] == "core.admit"])
        skews = []
        for s in sched:
            mine = [j for j in jobs if any(x["id"] == s["id"] for x in lineage(j.span))]
            stages = [st for j in mine for st in log.job_stages(j)]
            stages = [st for st in stages if len(st.task_shuffle_records_read) > 1]
            if stages:
                rank = max(stages, key=lambda st: sum(st.task_shuffle_records_read))
                med = statistics.median(rank.task_shuffle_records_read)
                skews.append(max(rank.task_shuffle_records_read) / med if med else 0.0)
        m["politeness.rank_skew"] = _med(skews)
        m["core_round.shuffle_mb"] = log.shuffle_write_bytes(
            jobs_of({"core.schedule", "core.admit"})
        ) / 1e6 / max(len(sched), 1)
    elif workload == "query_suite":
        for q in inputs.QUERY_NAMES:
            m[f"query.{q}_s"] = _med([dur(s) for s in spans if s["name"] == f"query.{q}"])
    return m
