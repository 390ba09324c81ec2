"""Correctness checks: the engine's outputs against the cached reference
answers. Each checker takes plain Python values (no Spark) and returns a
list of failure messages; an empty list means the outputs are correct."""

from __future__ import annotations

import datetime
import decimal
import json
import math
from collections import Counter


def _canon(v):
    if isinstance(v, bool) or v is None or isinstance(v, (int, str)):
        return v
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 6)
    if isinstance(v, decimal.Decimal):
        return round(float(v), 6)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, dict):
        return {str(k): _canon(x) for k, x in sorted(v.items())}
    if isinstance(v, (list, tuple)):
        return [_canon(x) for x in v]
    return _canon(v.item()) if hasattr(v, "item") else str(v)


def normalize(rows, colnames) -> list:
    """tests/test_queries_oracle.py's normalisation (columns in name order,
    floats rounded to 6 places, rows sorted by repr), in a JSON-stable form
    so cached oracle answers compare equal to fresh engine rows."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = [[_canon(row[i]) for i in order] for row in rows]
    out = json.loads(json.dumps(out))
    out.sort(key=repr)
    return out


def check_crawl(sim: dict, schedule_rows, seen_rows, page_rows, n_scheduled_summary: int,
                budgets: dict, default_budget: int, round_limit: int) -> list[str]:
    """schedule_rows: (round, rank, url, host); seen_rows: (url_hash,
    first_round); page_rows: (url, round, image_id, caption, phash)."""
    errs = []
    sched: dict[int, list] = {}
    for rnd, rank, url, _host in sorted(schedule_rows, key=lambda r: (r[0], r[1])):
        sched.setdefault(rnd, []).append(url)
    golden = sim["schedule"]
    if len(sched) != len(golden):
        errs.append(f"schedule: {len(sched)} rounds, simulator {len(golden)}")
    for i, g in enumerate(golden):
        if sched.get(i) != g:
            errs.append(f"schedule: round {i} order differs from the simulator")
    if dict(seen_rows) != {int(k): v for k, v in sim["seen"]} or len(seen_rows) != len(sim["seen"]):
        errs.append(f"seen: {len(seen_rows)} rows differ from the simulator's {len(sim['seen'])}")
    if sorted(list(p) for p in page_rows) != sim["pages"]:
        errs.append(f"pages: {len(page_rows)} rows differ from the simulator's {len(sim['pages'])}")
    n_sim = sum(len(g) for g in golden)
    if not (n_scheduled_summary == len(schedule_rows) == n_sim):
        errs.append(
            f"totals: summary {n_scheduled_summary}, schedule table {len(schedule_rows)}, "
            f"simulator {n_sim}"
        )
    per_host = Counter((r[0], r[3]) for r in schedule_rows)
    over = [(rnd, h) for (rnd, h), n in per_host.items() if n > budgets.get(h, default_budget)]
    if over:
        errs.append(f"budget: {len(over)} (round, host) pairs over their per-host budget")
    per_round = Counter(r[0] for r in schedule_rows)
    if any(n > round_limit for n in per_round.values()):
        errs.append("round_limit: a round scheduled more URLs than round_limit")
    return errs


def check_core(oracle: dict, got: dict) -> list[str]:
    return [
        f"core_round: {k} is {got[k]}, DuckDB says {oracle[k]}"
        for k in ("n_scheduled", "scheduled_checksum", "n_admitted", "admitted_checksum")
        if got[k] != oracle[k]
    ]


def check_query(name: str, oracle: dict, columns: list[str], rows) -> list[str]:
    if sorted(columns) != oracle["columns"]:
        return [f"{name}: columns {sorted(columns)} vs oracle {oracle['columns']}"]
    got = normalize(rows, columns)
    if len(got) != len(oracle["rows"]):
        return [f"{name}: {len(got)} rows vs oracle {len(oracle['rows'])}"]
    if got != oracle["rows"]:
        return [f"{name}: values differ from the oracle"]
    return []
