"""Seeded inputs for the benchmark and the expected results, computed
without Spark.

Readings are generated as cumulative integer milliwatt-hour registers
per meter and 15-minute tick, serialized to the wire-JSON envelope the
ingest stream parses, one delivery file per tick. The seed picks the
register values, the delivery order, the redelivered ticks, the
malformed messages and the late readings; the program only ever sees
the files and tables built from them.

Expected results come from the same NumPy arrays: the distinct valid
readings a table must hold, the malformed messages the quarantine must
hold, and the exact integer-mWh consumption per billing day and per
load hour. Both marts roll up interval deltas, and per meter those
telescope to differences of the cumulative register, so the totals are
computed here from the registers directly.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import numpy as np

TICKS_PER_DAY = 96
EPOCH = dt.datetime(2024, 1, 1)

# The malformed message kinds, named by the reject reason
# sources.ingest.classify must give each.
MALFORMED = (
    "malformed_json",
    "missing_required",
    "bad_timestamp",
    "bad_status",
    "negative_reading",
)


@dataclass
class Readings:
    """Cumulative registers for ``n_meters`` meters over ``n_days``
    days: ``cons``/``prod`` are (meters, ticks) int64 arrays, ``prod``
    is -1 where the meter has no solar (odd ids); ``status`` holds one
    of V/E/R per reading."""

    n_meters: int
    n_days: int
    cons: np.ndarray
    prod: np.ndarray
    status: np.ndarray

    @property
    def n_ticks(self) -> int:
        return self.n_days * TICKS_PER_DAY


def gen_readings(rng: np.random.Generator, n_meters: int, n_days: int) -> Readings:
    n_ticks = n_days * TICKS_PER_DAY
    cons_delta = rng.integers(100_000, 1_200_000, size=(n_meters, n_ticks))
    hour = (np.arange(n_ticks) // 4) % 24
    daylight = (hour >= 6) & (hour < 18)
    prod_delta = rng.integers(0, 900_000, size=(n_meters, n_ticks)) * daylight
    # Meter ids are 1-based, so the solar (even-id) meters sit at odd
    # rows; the rest have no production register.
    prod = np.full((n_meters, n_ticks), -1, dtype=np.int64)
    prod[1::2] = np.cumsum(prod_delta[1::2], axis=1)
    r = rng.random(size=(n_meters, n_ticks))
    status = np.where(r < 0.98, "V", np.where(r < 0.995, "E", "R"))
    return Readings(
        n_meters, n_days, np.cumsum(cons_delta, axis=1), prod, status
    )


def ts_text(tick: int) -> str:
    return (EPOCH + dt.timedelta(minutes=15 * tick)).strftime("%Y-%m-%dT%H:%M:%S")


def day_text(day: int) -> str:
    return (EPOCH + dt.timedelta(days=day)).strftime("%Y-%m-%d")


def reading_lines(r: Readings, tick: int, meters=None) -> list[str]:
    """Wire-JSON lines of ``tick`` for the meter rows ``meters`` (all
    by default); a meter without solar omits the production field."""
    idx = range(r.n_meters) if meters is None else meters
    ts = ts_text(tick)
    cons, prod, status = r.cons[:, tick], r.prod[:, tick], r.status[:, tick]
    out = []
    for m in idx:
        p = int(prod[m])
        p_field = f',"reading_production_milliwatts":{p}' if p >= 0 else ""
        out.append(
            f'{{"meter_id":{m + 1},"reading_timestamp":"{ts}",'
            f'"reading_consumption_milliwatts":{int(cons[m])}{p_field},'
            f'"status":"{status[m]}"}}'
        )
    return out


def malformed_line(kind: str, meter_id: int, tick: int) -> str:
    ts = ts_text(tick)
    if kind == "malformed_json":
        return f'{{"meter_id":{meter_id},"reading_timestamp":"{ts}","reading_con'
    if kind == "missing_required":
        return f'{{"reading_timestamp":"{ts}","reading_consumption_milliwatts":5}}'
    if kind == "bad_timestamp":
        return (
            f'{{"meter_id":{meter_id},"reading_timestamp":"2024-13-45T99:00:00",'
            '"reading_consumption_milliwatts":5}'
        )
    if kind == "bad_status":
        return (
            f'{{"meter_id":{meter_id},"reading_timestamp":"{ts}",'
            '"reading_consumption_milliwatts":5,"status":"X"}'
        )
    return (
        f'{{"meter_id":{meter_id},"reading_timestamp":"{ts}",'
        '"reading_consumption_milliwatts":-5}'
    )


def write_deliveries(path: str, files: list[list[str]]) -> list[str]:
    """Write one file per delivery and stamp increasing mtimes, so the
    file source (which orders by modification time) reads them in
    list order. Returns the file paths."""
    os.makedirs(path, exist_ok=True)
    base = int(os.path.getmtime(path)) - 10 * len(files) - 10
    out = []
    for i, lines in enumerate(files):
        f = os.path.join(path, f"delivery_{i:05d}.json")
        with open(f, "w") as fh:
            fh.write("\n".join(lines))
            fh.write("\n")
        os.utime(f, (base + i, base + i))
        out.append(f)
    return out


def day_deliveries(
    rng: np.random.Generator,
    r: Readings,
    day: int,
    ticks_per_file: int,
    redeliver_share: float,
    malformed_share: float,
    extra_lines: dict[int, list[str]] | None = None,
) -> tuple[list[list[str]], dict[str, int]]:
    """The delivery files of ``day``, each holding ``ticks_per_file``
    consecutive ticks, seeded: adjacent files swap with probability
    0.1, a ``redeliver_share`` of files is delivered a second time 1-8
    files later, and every tick carries ``malformed_share`` ×
    meters extra malformed messages. ``extra_lines`` maps a file's
    index within the day to lines appended to it (late readings,
    redelivered old readings). Returns the files' lines in delivery
    order and the expected quarantine count per reject reason."""
    first = day * TICKS_PER_DAY
    n_files = TICKS_PER_DAY // ticks_per_file
    order = list(range(n_files))
    for i in range(n_files - 1):
        if rng.random() < 0.1:
            order[i], order[i + 1] = order[i + 1], order[i]
    n_bad = max(1, int(round(malformed_share * r.n_meters)))
    files: list[list[str]] = []
    for f in order:
        lines: list[str] = []
        for t in range(first + f * ticks_per_file, first + (f + 1) * ticks_per_file):
            lines.extend(reading_lines(r, t))
            for _ in range(n_bad):
                kind = MALFORMED[int(rng.integers(len(MALFORMED)))]
                meter = int(rng.integers(1, r.n_meters + 1))
                lines.insert(int(rng.integers(len(lines) + 1)), malformed_line(kind, meter, t))
        lines.extend((extra_lines or {}).get(f, []))
        files.append(lines)
    n_redeliver = int(round(redeliver_share * n_files))
    for idx in sorted(rng.choice(n_files, n_redeliver, replace=False), reverse=True):
        at = min(len(files), idx + 1 + int(rng.integers(1, 9)))
        files.insert(at, list(files[idx]))
    return files, quarantine_counts(files)


def quarantine_counts(files: list[list[str]]) -> dict[str, int]:
    """Expected quarantine rows per reject reason for these deliveries."""
    counts = {reason: 0 for reason in MALFORMED}
    for lines in files:
        for line in lines:
            reason = classify_line(line)
            if reason:
                counts[reason] += 1
    return counts


def classify_line(line: str) -> str | None:
    """The reject reason of a generated line (None for a reading);
    generated malformed lines carry markers only they use."""
    if not line.endswith("}"):
        return "malformed_json"
    if '"meter_id"' not in line:
        return "missing_required"
    if "2024-13-45" in line:
        return "bad_timestamp"
    if '"status":"X"' in line:
        return "bad_status"
    if ":-5" in line:
        return "negative_reading"
    return None


def expected_marts(r: Readings) -> tuple[dict[str, int], dict[str, int]]:
    """Exact consumption mWh per billing day and per load hour for a
    table holding every reading of ``r``: the sum over meters of the
    register's rise over the period, the first reading counting from
    zero (stg_transform's first-reading fallback)."""
    cons = np.concatenate(
        [np.zeros((r.n_meters, 1), dtype=np.int64), r.cons], axis=1
    )
    per_day = {}
    for d in range(r.n_days):
        end, start = (d + 1) * TICKS_PER_DAY, d * TICKS_PER_DAY
        per_day[day_text(d)] = int((cons[:, end] - cons[:, start]).sum())
    per_hour = {}
    for h in range(r.n_ticks // 4):
        key = (EPOCH + dt.timedelta(hours=h)).strftime("%Y-%m-%d %H:00:00")
        per_hour[key] = int((cons[:, 4 * h + 4] - cons[:, 4 * h]).sum())
    return per_day, per_hour


def consumption_sum(r: Readings, ticks: slice) -> int:
    """Sum of the cumulative consumption column over the readings of
    ``ticks`` — a content checksum for a landed table."""
    return int(r.cons[:, ticks].sum())
