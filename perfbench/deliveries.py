"""Seeded delivery generator and pure-Python replay for the
``etl_nightly_load`` workload.

A delivery is what the nightly process receives from an upstream system:
tab-separated text files that open with two junk lines, carry German
numbers (``1.234,56``) and ``dd.mm.yyyy`` dates, and are keyed by ``id``.
The first delivery is the initial load.  In every later one about half
the keys update rows already in the table and half insert new ones, and
about 1% of the keys appear twice with different values.

``replay`` applies the deliveries in plain Python and returns, for every
key, the rows the loaded table may hold.  A key delivered twice in one
delivery may end as either of its rows: ``sinks.merge.dedupe_for_load``
documents "keep one row per key" and does not say which.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random

HEADER = ["id", "name", "amount", "qty", "booking_date"]
JUNK_LINES = 2
DUP_SHARE = 0.01
VALUE_DAYS = 2  # value date = booking date + 2 business days (AT calendar)
_FIRST_DAY = dt.date(2023, 1, 1).toordinal()
_LAST_DAY = dt.date(2025, 12, 31).toordinal()


def german_amount(cents: int) -> str:
    sign = "-" if cents < 0 else ""
    whole, frac = divmod(abs(cents), 100)
    return f"{sign}{whole:,}".replace(",", ".") + f",{frac:02d}"


def parse_amount(text: str) -> float:
    return float(text.strip().replace(".", "").replace(",", "."))


def _row(rng: random.Random, key: int, tag: str) -> list[str]:
    cents = rng.randrange(-50_000, 250_000_000)
    amount = german_amount(cents)
    if rng.random() < 0.05:
        amount = f"  {amount} "  # padded fields exercise the trim step
    day = dt.date.fromordinal(rng.randrange(_FIRST_DAY, _LAST_DAY + 1))
    return [
        str(key),
        f"name-{key}-{tag}-{rng.randrange(10**6)}",
        amount,
        str(rng.randrange(1000)),
        day.strftime("%d.%m.%Y"),
    ]


def _write(path: str, rows: list[list[str]], label: str) -> int:
    with open(path, "w", encoding="utf-8", newline="\n") as fh:
        fh.write(f"Delivery {label} exported by upstream system\n")
        fh.write(f"Rows: {len(rows)}\n")
        for r in rows:
            fh.write("\t".join(r) + "\n")
    return os.path.getsize(path)


def generate(
    out_dir: str,
    seed: int,
    base_rows: int,
    cycles: int,
    files_per_cycle: int,
    rows_per_file: int,
) -> dict:
    """Write the deliveries into ``out_dir`` and return the manifest:
    pattern, file names, rows and bytes per delivery.  Delivery 0 is the
    initial load of ``base_rows`` keys; each of the ``cycles`` after it has
    ``files_per_cycle`` files of ``rows_per_file`` rows.  The same
    arguments give byte-identical files."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    deliveries = []

    def deliver(rows: list[list[str]], n_files: int) -> None:
        d = len(deliveries)
        per_file = -(-len(rows) // n_files)
        files = []
        for f in range(n_files):
            name = f"d{d:02d}_{f:02d}.tsv"
            chunk = rows[f * per_file:(f + 1) * per_file]
            files.append({"file": name, "rows": len(chunk),
                          "bytes": _write(os.path.join(out_dir, name), chunk, f"{d}/{f}")})
        deliveries.append({"pattern": f"d{d:02d}_*.tsv", "files": files})

    deliver([_row(rng, k, "b") for k in range(1, base_rows + 1)], files_per_cycle)
    next_key = base_rows + 1
    live = list(range(1, base_rows + 1))
    per_cycle = files_per_cycle * rows_per_file
    for c in range(1, cycles + 1):
        n_dup = max(1, round(per_cycle * DUP_SHARE))
        n_keys = per_cycle - n_dup
        n_new = n_keys - n_keys // 2
        new = list(range(next_key, next_key + n_new))
        keys = rng.sample(live, n_keys // 2) + new
        live.extend(new)
        next_key += n_new
        rows = [_row(rng, k, f"c{c}") for k in keys]
        rows += [_row(rng, k, f"c{c}d") for k in rng.sample(keys, n_dup)]
        rng.shuffle(rows)
        deliver(rows, files_per_cycle)
    manifest = {"seed": seed, "deliveries": deliveries}
    with open(os.path.join(out_dir, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=1)
    return manifest


def read_rows(path: str) -> list[list[str]]:
    with open(path, encoding="utf-8") as fh:
        lines = fh.read().split("\n")[JUNK_LINES:]
    return [ln.split("\t") for ln in lines if ln]


def typed(fields: list[str], value_date) -> tuple:
    """One delivered row as the load must type it: (id, name, amount,
    qty, booking_date, value_date)."""
    key, name, amount, qty, booking = (f.strip() for f in fields)
    day = dt.datetime.strptime(booking, "%d.%m.%Y").date()
    return (int(key), name, parse_amount(amount), int(qty), day,
            value_date(day.strftime("%Y%m%d")).strftime("%Y%m%d"))


def replay(out_dir: str, manifest: dict, upto: int, value_date) -> dict:
    """Expected table after deliveries ``0..upto``: key -> list of the
    typed rows it may hold."""
    expected = {}
    for dlv in manifest["deliveries"][:upto + 1]:
        delivered: dict[int, list[tuple]] = {}
        for f in dlv["files"]:
            for fields in read_rows(os.path.join(out_dir, f["file"])):
                row = typed(fields, value_date)
                delivered.setdefault(row[0], []).append(row)
        expected.update(delivered)
    return expected


def table_sizes(out_dir: str, manifest: dict) -> list[int]:
    """Rows of the table after each delivery (keys only, no typing)."""
    keys: set[int] = set()
    sizes = []
    for dlv in manifest["deliveries"]:
        for f in dlv["files"]:
            keys.update(int(r[0]) for r in read_rows(os.path.join(out_dir, f["file"])))
        sizes.append(len(keys))
    return sizes

