"""Seeded generator for the billing CSV lake the ``billing_pipeline`` workload
ingests.

Layout and schema follow FIXTURES.md section 1: one ``billing.csv`` per day
under ``year=YYYY/month=MM/day=DD/``, header row included. Every natural key
``(timestamp, resource_id, user_id, invoice_id)`` is unique by construction
(``invoice_id`` carries the day and row index) except for the deliberate
edge cases the pipeline must handle:

- a few rows copied verbatim inside the same file (in-batch duplicates);
- in the daily files, rows copied verbatim from an earlier day's file
  (cross-file duplicates; the earlier file always lands first, so which copy
  survives is determined);
- rows with a NULL ``invoice_id`` (a NULL key never matches, so they always
  insert), one of them repeated inside its file;
- about 10% ``success=false`` and about 1% NULL ``credit_usage``.

The generator records how many rows ``raw_billing`` must hold once every file
has landed, and how many rows each file carries. A generated lake is cached
per (seed, sizes) under the work directory, so repeated runs skip generation.
"""

from __future__ import annotations

import json
import os
import random
import shutil
from dataclasses import asdict, dataclass
from datetime import date, timedelta

HEADER = (
    "timestamp,resource_id,user_id,credit_usage,region,service_tier,"
    "operation_type,success,resource_type,invoice_id,currency\n"
)
REGIONS = ("us-east-1", "us-west-2", "eu-west-1", "eu-north-1", "ap-south-1")
TIERS = ("free", "standard", "premium")
OPERATIONS = ("read", "write", "compute", "query", "delete", "train")
RESOURCE_TYPES = ("vm", "storage", "db", "function", "gpu")
CURRENCIES = ("USD", "EUR")
FIRST_DAY = date(2025, 3, 1)


@dataclass(frozen=True)
class LakeSize:
    backfill_days: int
    daily_days: int
    rows_per_day: int

    @property
    def days(self) -> int:
        return self.backfill_days + self.daily_days


@dataclass
class Lake:
    root: str
    size: LakeSize
    seed: int
    day_dirs: list[str]  # relative partition dirs, landing order
    rows_per_file: list[int]  # data rows in each day's file
    unique_after: list[int]  # raw_billing rows once days [0..i] have landed

    def csv_bytes(self, upto: int | None = None) -> int:
        dirs = self.day_dirs if upto is None else self.day_dirs[:upto]
        return sum(
            os.path.getsize(os.path.join(self.root, d, "billing.csv")) for d in dirs
        )


def _day_dir(d: date) -> str:
    return f"year={d.year}/month={d.month:02d}/day={d.day:02d}"


def _row(rng: random.Random, d: date, day_index: int, i: int) -> list[str]:
    sec = rng.randrange(86_400)
    usec = rng.randrange(1_000_000)
    ts = f"{d.isoformat()} {sec // 3600:02d}:{sec // 60 % 60:02d}:{sec % 60:02d}.{usec:06d}"
    usage = "" if rng.random() < 0.01 else f"{-rng.randrange(1, 1_000_000) / 10_000:.4f}"
    return [
        ts,
        f"res-{rng.randrange(500)}",
        f"user-{rng.randrange(100)}",
        usage,
        rng.choice(REGIONS),
        rng.choice(TIERS),
        rng.choice(OPERATIONS),
        "false" if rng.random() < 0.1 else "true",
        rng.choice(RESOURCE_TYPES),
        f"inv-{day_index}-{i}",
        rng.choice(CURRENCIES),
    ]


def _generate(root: str, size: LakeSize, seed: int) -> Lake:
    rng = random.Random(seed)
    lake = Lake(root, size, seed, [], [], [])
    earlier: list[list[str]] = []  # keyed rows of files that landed before
    unique = 0
    for k in range(size.days):
        d = FIRST_DAY + timedelta(days=k)
        rows = [_row(rng, d, k, i) for i in range(size.rows_per_day)]
        nulls = max(1, size.rows_per_day // 200)
        for r in rows[:nulls]:
            r[9] = ""  # NULL invoice_id: a NULL key, always inserted
        dups = max(1, size.rows_per_day // 200)
        rows += [list(r) for r in rng.sample(rows[nulls:], dups)]  # same file
        rows.append(list(rows[0]))  # a NULL-key row twice: both insert
        if k >= size.backfill_days:  # cross-file copies only in daily files
            rows += [list(r) for r in rng.sample(earlier, dups)]
        rng.shuffle(rows)
        earlier += [r for r in rows if r[9]]
        unique += size.rows_per_day + 1
        rel = _day_dir(d)
        os.makedirs(os.path.join(root, rel), exist_ok=True)
        with open(os.path.join(root, rel, "billing.csv"), "w") as f:
            f.write(HEADER)
            f.writelines(",".join(r) + "\n" for r in rows)
        lake.day_dirs.append(rel)
        lake.rows_per_file.append(len(rows))
        lake.unique_after.append(unique)
    return lake


def cached_lake(cache_dir: str, size: LakeSize, seed: int) -> Lake:
    """The lake for (seed, size), generated on first use and reused after."""
    key = f"seed{seed}-b{size.backfill_days}-d{size.daily_days}-r{size.rows_per_day}"
    root = os.path.join(cache_dir, key)
    manifest = os.path.join(root, "manifest.json")
    if os.path.exists(manifest):
        with open(manifest) as f:
            meta = json.load(f)
        meta.update(root=root, size=LakeSize(**meta["size"]))
        return Lake(**meta)
    tmp = root + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    lake = _generate(tmp, size, seed)
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(asdict(lake), f)
    os.rename(tmp, root)
    lake.root = root
    return lake


def land(lake: Lake, target_root: str, day: int) -> None:
    """Make day ``day`` of the lake appear under ``target_root``."""
    rel = lake.day_dirs[day]
    os.makedirs(os.path.join(target_root, rel))
    src = os.path.join(lake.root, rel, "billing.csv")
    dst = os.path.join(target_root, rel, "billing.csv")
    try:
        os.link(src, dst)
    except OSError:
        shutil.copyfile(src, dst)
