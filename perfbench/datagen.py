"""Seeded call-center CSV batches for ``medallion_ingest``.

``write_call_batches`` writes the batches the medallion pipeline ingests
(FIXTURES.md part B schema): one initial load, then late-arriving
batches that update existing ``call_id``s, add new ones and carry about
1% rows the DQ rules reject. It returns the counts a correct pipeline
must reproduce. Only the standard library is used, so generation needs
no Spark session and never touches the program under test.
"""

from __future__ import annotations

import csv
import os
import random

CALL_HEADER = (
    "call_id",
    "caller_id",
    "agent_id",
    "call_start_time",
    "call_end_time",
    "call_status",
)
STATUSES = ("COMPLETED", "DROPPED", "FAILED")
# id range for invalid rows that carry a positive call_id, disjoint from
# every valid id so an exception row never shadows a Silver key
_INVALID_ID_BASE = 900_000_000


def _hms(sec: int) -> str:
    sec %= 86400
    return f"{sec // 3600:02d}:{sec % 3600 // 60:02d}:{sec % 60:02d}"


def _valid_row(rng: random.Random, call_id: int) -> list:
    start = rng.randint(0, 86399)
    end = start + rng.randint(0, 3600)
    status = rng.choices(STATUSES, (0.7, 0.2, 0.1))[0]
    return [call_id, rng.randint(1000, 9999), rng.randint(1, 50), _hms(start), _hms(end), status]


def _invalid_row(rng: random.Random, k: int) -> list:
    """One row that fails a DQ rule of ``functions.validation``; the rule
    cycles through the classes of FIXTURES.md part B."""
    cid = _INVALID_ID_BASE + k
    row = [cid, rng.randint(1000, 9999), rng.randint(1, 50), "10:00:00", "10:10:00", "COMPLETED"]
    kind = k % 7
    if kind == 0:
        row[0] = None  # call_id must not be NULL
    elif kind == 1:
        row[0] = "ABC12"  # non-numeric: NULL under the INT read schema
    elif kind == 2:
        row[0] = -cid  # call_id must be numeric
    elif kind == 3:
        row[1] = None  # caller_id must not be NULL
    elif kind == 4:
        row[3] = "9:05:00"  # invalid call_start_time
    elif kind == 5:
        row[5] = "BUSY"  # invalid call_status values
    else:
        row[5] = None  # call_status must not be NULL
    return row


def _write_csv(path: str, rows: list[list]) -> None:
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(CALL_HEADER)
        for r in rows:
            w.writerow(["" if v is None else v for v in r])


def write_call_batches(
    out_dir: str,
    seed: int,
    initial_rows: int,
    batch_rows: int,
    n_batches: int,
    invalid_share: float = 0.01,
) -> dict:
    """Write ``batch_000.csv`` (initial load) and ``batch_001.csv`` ...
    (late arrivals). Each late batch is half updates to existing valid
    ``call_id``s and half new ids. Every batch also carries
    ``invalid_share`` rows that fail validation.

    Returns the paths, per-batch valid/invalid counts, the input bytes,
    and what a correct pipeline ends with: ``silver_rows`` (distinct
    valid ids) and ``exception_rows`` (every invalid row; the exception
    sink is append-only).
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(seed)
    next_id = 1
    live: list[int] = []
    n_invalid_total = 0
    batches = []
    for b in range(n_batches + 1):
        n_new = initial_rows if b == 0 else batch_rows - batch_rows // 2
        new_ids = list(range(next_id, next_id + n_new))
        next_id += n_new
        ids = (rng.sample(live, batch_rows // 2) if b else []) + new_ids
        live.extend(new_ids)
        rows = [_valid_row(rng, i) for i in ids]
        n_inv = max(1, round(len(ids) * invalid_share))
        rows += [_invalid_row(rng, n_invalid_total + k) for k in range(n_inv)]
        n_invalid_total += n_inv
        rng.shuffle(rows)
        path = os.path.join(out_dir, f"batch_{b:03d}.csv")
        _write_csv(path, rows)
        batches.append(
            {"path": path, "valid": len(ids), "invalid": n_inv, "bytes": os.path.getsize(path)}
        )
    return {
        "batches": batches,
        "input_rows": sum(x["valid"] + x["invalid"] for x in batches),
        "input_bytes": sum(x["bytes"] for x in batches),
        "silver_rows": next_id - 1,
        "exception_rows": n_invalid_total,
    }
