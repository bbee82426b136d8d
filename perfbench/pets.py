"""Seeded licensed-pets CSV drops with the ground truth each day must match.

Every drop has the raw schema ``_id, Year, FSA, ANIMAL_TYPE, PRIMARY_BREED``
and carries the noise the pipeline is built to absorb:

- about 5% of a later day's rows re-send an ``_id`` loaded on an earlier
  day, so Bronze's anti-join drops them;
- about 4% of FSAs are invalid, so Silver nulls them and keeps the flag;
- type and FSA values carry case and whitespace noise;
- breeds follow a skewed draw over the reference-data variant spellings,
  plus breeds the mapping does not know;
- ``Year`` spreads over twelve values, so Bronze's (Year, ANIMAL_TYPE)
  partitioning writes 24 files a day.

No row has a NULL ``_id``, type or breed, so every new row survives Silver
and the expected Silver count equals the expected Bronze count.
"""

from __future__ import annotations

import csv
import itertools
import os
import random
from collections import Counter
from collections.abc import Iterator
from dataclasses import dataclass, field
from datetime import date, timedelta

from certified_dogs_and_cats_spark.pipeline.refdata import seed_rows

HEADER = ["_id", "Year", "FSA", "ANIMAL_TYPE", "PRIMARY_BREED"]
YEARS = tuple(range(2014, 2026))
RESEND_SHARE = 0.05
INVALID_FSA_SHARE = 0.04
UNMAPPED_BREEDS = ("UNICORN CAT", "MIXED", "DOODLE X", "UNKNOWN BREED")
_TYPE_SPELLINGS = {
    "DOG": ("DOG", "dog", " Dog", "DOG "),
    "CAT": ("CAT", "cat", " Cat", "CAT "),
}
_INVALID_FSAS = ("M44", "XYZ1", "4MC", "")
_LETTERS = "ABCEGHJKLMNPRSTVXY"


@dataclass
class Day:
    """One drop and what loading it must produce."""

    ingestion_date: date
    rows: list[tuple]
    new_rows: int
    #: (Year, ANIMAL_TYPE) -> rows of that group among all unique rows
    #: loaded up to and including this day.
    totals: dict[tuple[int, str], int] = field(default_factory=dict)


def _breed_pool() -> list[str]:
    variants = [v for v, _ in seed_rows()]
    return variants + list(UNMAPPED_BREEDS)


def _fsa(rng: random.Random) -> str:
    if rng.random() < INVALID_FSA_SHARE:
        return rng.choice(_INVALID_FSAS)
    code = rng.choice(_LETTERS) + str(rng.randrange(10)) + rng.choice(_LETTERS)
    form = rng.randrange(4)
    if form == 1:
        code = code.lower()
    elif form == 2:
        code = f" {code} "
    return code


def generate(seed: int, rows_per_day: int,
             first: date = date(2026, 1, 1)) -> Iterator[Day]:
    """Consecutive daily drops of ``rows_per_day`` rows, from ``seed``."""
    rng = random.Random(seed)
    pool = _breed_pool()
    # Zipf-like skew: the k-th breed in a seed-shuffled order has weight
    # 1/(k+1), so a few spellings dominate and many are rare.
    rng.shuffle(pool)
    weights = [1.0 / (k + 1) for k in range(len(pool))]
    loaded: list[tuple] = []
    totals: Counter = Counter()
    next_id = 1
    for d in itertools.count():
        n_resend = int(rows_per_day * RESEND_SHARE) if loaded else 0
        rows = rng.sample(loaded, n_resend)
        fresh = []
        for _ in range(rows_per_day - n_resend):
            animal = "DOG" if rng.random() < 0.6 else "CAT"
            row = (
                next_id,
                rng.choice(YEARS),
                _fsa(rng),
                rng.choice(_TYPE_SPELLINGS[animal]),
                rng.choices(pool, weights)[0],
            )
            next_id += 1
            fresh.append(row)
            totals[(row[1], animal)] += 1
        rows.extend(fresh)
        rng.shuffle(rows)
        loaded.extend(fresh)
        yield Day(first + timedelta(days=d), rows, len(fresh), dict(totals))


def write_drop(raw_root: str, day: Day) -> int:
    """Write ``day`` under ``raw_root/ingestion_date=D/``; returns bytes."""
    drop = os.path.join(raw_root,
                        f"ingestion_date={day.ingestion_date.isoformat()}")
    os.makedirs(drop, exist_ok=True)
    path = os.path.join(drop, "data.csv")
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(HEADER)
        w.writerows(day.rows)
    return os.path.getsize(path)


def expected_totals_by_year_type(day: Day) -> list[tuple]:
    """The ``v_totals_by_year_type`` rows after ``day`` is loaded:
    ``(Year, ANIMAL_TYPE, cnt, share_pct, rnk)`` sorted by (Year, type)."""
    by_year: dict[int, list[tuple[str, int]]] = {}
    for (year, animal), cnt in day.totals.items():
        by_year.setdefault(year, []).append((animal, cnt))
    out = []
    for year, groups in by_year.items():
        total = sum(c for _, c in groups)
        ranked = sorted(groups, key=lambda g: (-g[1], g[0]))
        for rnk, (animal, cnt) in enumerate(ranked, start=1):
            out.append((year, animal, cnt, 100.0 * cnt / total, rnk))
    return sorted(out)
