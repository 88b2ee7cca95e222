"""Seeded line-list generator: one parquet file per daily revision.

The program under test only ever sees the files written here. Each
revision is the full line list as known on its as-of date, in the
``simulist_linelist`` schema (id, case_type, sex, birth, age,
date_onset, date_admission, date_discharge, date_death) with its
invariants: birth <= onset <= admission <= discharge, and
death = discharge when present.

Between two revisions:

- cases reported in the latest week appear (onset + reporting delay
  <= as-of date);
- about 1% (``CORRECTION_SHARE``) of the already-published records are
  corrected: a suspected/probable case is confirmed, or a hospital
  stay's admission and discharge shift by a day, or an onset moves a
  day earlier;
- stays still running on the as-of date have no discharge yet; the
  discharge (and a death) appears in the revision that passes it.

Everything is drawn from ``numpy.random.default_rng(seed)``, so the
same seed gives byte-identical files.
"""

from __future__ import annotations

import datetime
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

OUTBREAK_START = datetime.date(2019, 12, 1)
_EPOCH = datetime.date(1970, 1, 1)
_START_DAY = (OUTBREAK_START - _EPOCH).days

SCHEMA = pa.schema(
    [
        ("id", pa.int32()),
        ("case_type", pa.string()),
        ("sex", pa.string()),
        ("birth", pa.date32()),
        ("age", pa.int32()),
        ("date_onset", pa.date32()),
        ("date_admission", pa.date32()),
        ("date_discharge", pa.date32()),
        ("date_death", pa.date32()),
    ]
)
CASE_TYPES = np.array(["suspected", "probable", "confirmed"])
CORRECTION_SHARE = 0.01


@dataclass(frozen=True)
class Revision:
    index: int
    as_of: datetime.date
    path: str


def day(d: int) -> datetime.date:
    return _EPOCH + datetime.timedelta(days=int(d))


def generate_revisions(
    out_dir: str,
    seed: int,
    n_persons: int,
    first_as_of: datetime.date,
    n_revisions: int,
) -> list[Revision]:
    """Write revisions 0..n_revisions-1 (as-of dates ``first_as_of``
    + index days) under ``out_dir``; return them in order."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    last_day = (first_as_of - _EPOCH).days + n_revisions - 1
    span = last_day - _START_DAY + 1

    # Onsets grow towards the end of the span (an outbreak still rising).
    onset = _START_DAY + np.floor(span * np.sqrt(rng.random(n_persons))).astype(
        np.int64
    )
    onset = np.minimum(onset, last_day)
    report = onset + rng.integers(0, 7, n_persons)
    case_type = rng.choice(3, n_persons, p=[0.2, 0.3, 0.5])
    sex = np.where(rng.random(n_persons) < 0.5, "m", "f")
    age_years = rng.integers(0, 96, n_persons)
    birth = onset - age_years * 365 - rng.integers(0, 365, n_persons)
    hospital = (case_type == 2) & (rng.random(n_persons) < 0.3)
    admission = onset + rng.integers(0, 6, n_persons)
    discharge = admission + rng.integers(0, 21, n_persons)
    dies = hospital & (rng.random(n_persons) < 0.15)
    ids = rng.permutation(n_persons).astype(np.int32) + 1

    revisions = []
    for k in range(n_revisions):
        as_of = (first_as_of - _EPOCH).days + k
        published = report <= as_of
        if k > 0:
            _correct(rng, published, case_type, hospital, onset, birth,
                     admission, discharge)
        idx = np.flatnonzero(published)
        adm_known = hospital[idx] & (admission[idx] <= as_of)
        dis_known = adm_known & (discharge[idx] <= as_of)
        dead = dis_known & dies[idx]
        b, o = birth[idx], onset[idx]
        table = pa.table(
            {
                "id": ids[idx],
                "case_type": CASE_TYPES[case_type[idx]],
                "sex": sex[idx],
                "birth": _dates(b),
                "age": ((o - b) // 365.25).astype(np.int32),
                "date_onset": _dates(o),
                "date_admission": _dates(admission[idx], adm_known),
                "date_discharge": _dates(discharge[idx], dis_known),
                "date_death": _dates(discharge[idx], dead),
            },
            schema=SCHEMA,
        )
        path = os.path.join(out_dir, f"linelist_rev{k:03d}.parquet")
        pq.write_table(table, path)
        revisions.append(Revision(k, day(as_of), path))
    return revisions


def _correct(rng, published, case_type, hospital, onset, birth, admission,
             discharge):
    """Correct about ``CORRECTION_SHARE`` of the published records in place."""
    pool = np.flatnonzero(published)
    picked = rng.choice(pool, max(1, int(len(pool) * CORRECTION_SHARE)), replace=False)
    kind = rng.integers(0, 3, len(picked))
    # suspected/probable -> confirmed
    upgrade = picked[(kind == 0) & (case_type[picked] < 2)]
    case_type[upgrade] = 2
    # a hospital stay shifts by one day either way
    stay = picked[(kind == 1) & hospital[picked]]
    shift = rng.choice([-1, 1], len(stay))
    shift = np.where(admission[stay] + shift < onset[stay], 1, shift)
    admission[stay] += shift
    discharge[stay] += shift
    # an onset moves a day earlier (never before birth or the outbreak)
    earlier = picked[(kind == 2) & (onset[picked] > _START_DAY)]
    earlier = earlier[onset[earlier] - 1 > birth[earlier]]
    onset[earlier] -= 1


def _dates(days: np.ndarray, known: np.ndarray | None = None) -> pa.Array:
    """Day numbers as a date32 array, NULL where not ``known``."""
    mask = None if known is None else ~known
    return pa.array(days.astype(np.int32), type=pa.int32(), mask=mask).cast(
        pa.date32()
    )
