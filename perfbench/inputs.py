"""Seeded benchmark inputs.

Everything the program sees is generated here from the ``--seed``
argument: the air-quality station set, and an ``events`` table with
the rows and schema of the sf0.1 testdata table. The same seed gives
byte-identical parquet. Sizes are fixed per shape, so a different seed
changes the values the program reads but not how much work it has to do.

The table is written by a child process (``python3 inputs.py SEED SHAPE
OUT_DIR``, which prints its row count as JSON), so the arrays behind it
never count in the driver's peak RSS.
"""

from __future__ import annotations

import json
import os
import sys
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["purchase", "view", "click", "error", "signup"]
STATION_WORDS = (
    "Centro Norte Sur Este Oeste Kennedy Suba Usaquen Bosa Fontibon Engativa "
    "Tunal Guaymaral Carvajal Puente_Aranda Las_Ferias Minambiente San_Cristobal"
).split()


@dataclass(frozen=True)
class Shape:
    """Input sizes for one benchmark shape."""

    stations: int
    days: int
    events: int
    users: int


# ``full`` is what the benchmark measures; ``smoke`` is the tiny shape the
# self-check mode runs. The reference extracts 5 stations x 90 days; one
# warm pass of that takes about 30 s on 4 cores, too long to repeat within
# a run, so ``full`` keeps the 5 stations over 10 days (1,200 rows, above
# the reference's 1,000-row validate threshold).
SHAPES = {
    "full": Shape(stations=5, days=10, events=100_000, users=1_500),
    "smoke": Shape(stations=5, days=9, events=5_000, users=200),
}


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, stream), so adding a stream
    never shifts the values of another."""
    key = [seed] + [ord(c) for c in stream]
    return np.random.default_rng(np.random.SeedSequence(key))


def station_names(seed: int, n: int) -> list[str]:
    """``n`` distinct station names chosen by the seed. The program
    hashes every baseline, noise value and missing-value position from
    the name, so the name set is the whole air-quality input."""
    rng = rng_for(seed, "stations")
    words = rng.choice(STATION_WORDS, size=n, replace=False)
    tags = rng.integers(0, 10_000, size=n)
    return [f"Estacion_{w}_{t:04d}" for w, t in zip(words, tags)]


def _events(seed: int, shape: Shape) -> pa.Table:
    rng = rng_for(seed, "events")
    n = shape.events
    start_us = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = start_us + np.sort(rng.integers(0, 30 * 24 * 3600 * 1_000_000, size=n))
    k = rng.integers(0, 100, size=n)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[us]"), type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, shape.users, size=n, dtype=np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, size=n)),
        "value": pa.array(np.round(rng.exponential(50.0, size=n), 2)),
        "props": pa.array([f'{{"k": {v}}}' for v in k]),
    })


def write_events(seed: int, shape: Shape, out_dir: str) -> int:
    """Write ``<out_dir>/events.parquet`` (one file, like the testdata)
    and return its row count."""
    os.makedirs(out_dir, exist_ok=True)
    table = _events(seed, shape)
    pq.write_table(table, os.path.join(out_dir, "events.parquet"))
    return table.num_rows


if __name__ == "__main__":
    seed, shape, out_dir = sys.argv[1:]
    print(json.dumps({"events": write_events(int(seed), SHAPES[shape], out_dir)}))
