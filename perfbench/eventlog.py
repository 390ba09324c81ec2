"""Stdlib-only summary of a Spark event log.

Spark writes one JSON object per line when ``spark.eventLog.enabled`` is
set (``session.get_spark`` does so under ``SPARK_EVENTLOG_DIR``). This
reads the jobs (submission time, description, stages), the stages that
ran, and per task the shuffle bytes written and shuffle records read, so
the traced run can charge each job to the span named in its description.

    python3 perfbench/eventlog.py <event log file>   # prints a job table
"""

from __future__ import annotations

import json
import re
import sys
from dataclasses import dataclass, field

_SPAN_RE = re.compile(r"span=(\d+)")


@dataclass
class Stage:
    shuffle_write_bytes: int = 0
    task_shuffle_records_read: list[int] = field(default_factory=list)
    ran: bool = False


@dataclass
class Job:
    job_id: int
    submit_s: float
    description: str | None
    stage_ids: list[int]
    span: int | None


@dataclass
class EventLog:
    jobs: list[Job]
    stages: dict[int, Stage]

    def job_stages(self, job: Job) -> list[Stage]:
        return [self.stages[s] for s in job.stage_ids if s in self.stages and self.stages[s].ran]

    def shuffle_write_bytes(self, jobs) -> int:
        seen, total = set(), 0
        for j in jobs:
            for s in j.stage_ids:
                if s not in seen and s in self.stages:
                    seen.add(s)
                    total += self.stages[s].shuffle_write_bytes
        return total


def read(path: str) -> EventLog:
    jobs: list[Job] = []
    stages: dict[int, Stage] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                desc = (ev.get("Properties") or {}).get("spark.job.description")
                m = _SPAN_RE.search(desc or "")
                jobs.append(
                    Job(ev["Job ID"], ev["Submission Time"] / 1000.0, desc,
                        list(ev.get("Stage IDs", [])), int(m.group(1)) if m else None)
                )
            elif kind == "SparkListenerStageCompleted":
                stages.setdefault(ev["Stage Info"]["Stage ID"], Stage()).ran = True
            elif kind == "SparkListenerTaskEnd":
                st = stages.setdefault(ev["Stage ID"], Stage())
                tm = ev.get("Task Metrics") or {}
                st.shuffle_write_bytes += (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                st.task_shuffle_records_read.append(
                    (tm.get("Shuffle Read Metrics") or {}).get("Total Records Read", 0)
                )
    return EventLog(jobs, stages)


def main(argv: list[str]) -> int:
    log = read(argv[1])
    print(f"{'job':>5} {'stages':>6} {'shuffle_MB':>10}  description")
    for j in log.jobs:
        mb = log.shuffle_write_bytes([j]) / 1e6
        print(f"{j.job_id:>5} {len(log.job_stages(j)):>6} {mb:>10.3f}  {j.description or ''}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
