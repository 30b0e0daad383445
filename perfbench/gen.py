"""Seeded input generator for the benchmark's catalog workloads.

``field/`` is a long-format sub-daily raw field (3-hourly, one year,
``CELLS`` grid cells) with the raw input columns the catalog maps, one
file per month in weekly row groups, the way model output arrives.

The seed changes values only: row counts, the time axis and file names
are fixed, so every seed gives the same shapes. The query workloads read
the committed tables under ``perfbench/testdata`` instead; their seed
drives only the query order.
"""
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Raw field: 3-hourly steps over the year 2001 on CELLS grid cells.
FIELD_START = np.datetime64("2001-01-01T00:00:00", "us")
FIELD_STEP_S = 3 * 3600
FIELD_STEPS = 365 * 8
CELLS = 96
FIELD_COLS = ["fld_ta", "fld_rain", "fld_snow", "fld_u", "fld_v", "fld_ps", "fld_q"]


def field(rng):
    """The raw field. Values carry three decimals, so every derived sum
    stays exact in the DECIMAL(38, 6) casts both engines use."""
    steps = np.arange(FIELD_STEPS, dtype=np.int64)
    time = np.repeat(FIELD_START + steps * np.timedelta64(FIELD_STEP_S, "s"), CELLS)
    cell = np.tile(np.arange(CELLS, dtype=np.int32), FIELD_STEPS)
    n = time.size
    season = np.cos(2 * np.pi * np.repeat(steps, CELLS) / FIELD_STEPS)
    cols = {
        "fld_ta": 275 + 20 * season + rng.normal(0, 6, n),
        "fld_rain": rng.gamma(0.6, 2.0, n),
        "fld_snow": rng.gamma(0.3, 1.0, n) * (season > 0),
        "fld_u": rng.normal(2, 5, n),
        "fld_v": rng.normal(0, 5, n),
        "fld_ps": rng.normal(101000, 900, n),
        "fld_q": rng.uniform(1, 20, n),
    }
    arrays = [pa.array(time, pa.timestamp("us", tz="UTC")), pa.array(cell)]
    arrays += [pa.array(np.round(cols[c], 3)) for c in FIELD_COLS]
    return pa.Table.from_arrays(arrays, names=["time", "cell"] + FIELD_COLS)


def write_field(table, root):
    """One file per calendar month, one row group per week."""
    os.makedirs(root, exist_ok=True)
    month = table.column("time").to_numpy().astype("datetime64[M]")
    for m in np.unique(month):
        part = table.filter(pa.array(month == m))
        pq.write_table(part, os.path.join(root, f"field_{m}.parquet"),
                       compression="snappy", row_group_size=7 * 8 * CELLS)


def checksum(path):
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def generate(root, seed):
    """Write the seed's raw field under `root/field` once (a finished
    field is marked by `field.json`, its file checksums) and return
    {relative file: sha256}."""
    os.makedirs(root, exist_ok=True)
    marker = os.path.join(root, "field.json")
    if not os.path.exists(marker):
        d = os.path.join(root, "field")
        shutil.rmtree(d, ignore_errors=True)
        write_field(field(np.random.default_rng(seed)), d)
        sums = {f"field/{f}": checksum(os.path.join(d, f)) for f in sorted(os.listdir(d))}
        with open(marker + ".tmp", "w") as f:
            json.dump(sums, f, indent=1, sort_keys=True)
        os.replace(marker + ".tmp", marker)
    with open(marker) as f:
        return json.load(f)
