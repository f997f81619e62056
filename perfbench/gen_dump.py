"""Seeded synthetic GeoNames dump for the ETL workload.

Writes ``allCountries.txt`` (the 19 tab-separated GeoNames columns) plus
``admin1CodesASCII.txt`` and ``admin2Codes.txt`` (code, name, asciiname,
geonameid) in the layout the reference ingests. The seed picks the row
order and the feature-code mix; the shares the pipeline's behaviour
depends on stay fixed:

- countries are uniform over 20 codes, so ~10% of rows pass the NL/DE
  filter;
- 5/8 of the place rows carry a feature code the ETL config types
  (``PPL*``/``ADM*``); the seed only moves weight within the typed codes
  and within the untyped ones, so the output size stays put;
- about 1 in 13 admin1 references and 1 in 9 admin2 references miss the
  admin tables (the join-miss path);
- every admin2 entry also appears as a dump row carrying its own
  geonameid, so the self-parent fallback to admin1 is exercised.

The same ``(seed, rows)`` always gives byte-identical files.

Usage: python3 perfbench/gen_dump.py <out_dir> <seed> <rows>
"""

from __future__ import annotations

import os
import sys

import numpy as np

COUNTRIES = ["NL", "DE", "FR", "ES", "IT", "PL", "SE", "NO", "PT", "BE",
             "AT", "CH", "DK", "FI", "GR", "IE", "CZ", "HU", "RO", "BG"]
TYPED_FCODES = ["PPL", "PPLA", "PPLA2", "ADM1", "ADM2"]
UNTYPED_FCODES = ["STM", "MT", "LK"]
FCODES = TYPED_FCODES + UNTYPED_FCODES
N_ADMIN1, N_ADMIN2 = 12, 8  # per country, per admin1
ADMIN1_GID, ADMIN2_GID = 90_000_000, 95_000_000


def _admin_codes() -> tuple[list[str], list[str]]:
    a1 = [f"{cc}.{i:02d}" for cc in COUNTRIES for i in range(N_ADMIN1)]
    a2 = [f"{k}.{j:03d}" for k in a1 for j in range(N_ADMIN2)]
    return a1, a2


def write_dump(out_dir: str, seed: int, rows: int) -> None:
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    a1_codes, a2_codes = _admin_codes()
    for fname, codes, base, label in [
        ("admin1CodesASCII.txt", a1_codes, ADMIN1_GID, "Admin1"),
        ("admin2Codes.txt", a2_codes, ADMIN2_GID, "Admin2"),
    ]:
        with open(os.path.join(out_dir, fname), "w") as f:
            f.writelines(f"{c}\t{label} {c}\t{label} {c}\t{base + i}\n"
                         for i, c in enumerate(codes))

    n_places = rows - len(a2_codes)
    fcode_p = np.concatenate([
        rng.dirichlet(np.full(len(TYPED_FCODES), 4.0)) * 5 / 8,
        rng.dirichlet(np.full(len(UNTYPED_FCODES), 4.0)) * 3 / 8,
    ])
    cc = rng.integers(0, len(COUNTRIES), n_places)
    fc = rng.choice(len(FCODES), n_places, p=fcode_p)
    a1 = rng.integers(0, N_ADMIN1 + 1, n_places)  # index N_ADMIN1 misses
    a2 = rng.integers(0, N_ADMIN2 + 1, n_places)  # index N_ADMIN2 misses
    lat = np.round(rng.uniform(-90.0, 90.0, n_places), 5)
    lon = np.round(rng.uniform(-180.0, 180.0, n_places), 5)
    pop = rng.integers(0, 1_000_000, n_places)
    gids = rng.permutation(n_places) + 1
    lines = [
        f"{g}\tPlace {g}\tPlace {g}\tAlt{g}a,Alt{g}b\t{la:.5f}\t{lo:.5f}\t"
        f"{'P' if FCODES[f].startswith('PPL') else 'A'}\t{FCODES[f]}\t"
        f"{COUNTRIES[c]}\t\t{i1:02d}\t{i2:03d}\t\t\t{p}\t\t{g % 4000}\t"
        "Europe/Amsterdam\t2025-01-01\n"
        for g, la, lo, f, c, i1, i2, p in zip(
            gids.tolist(), lat.tolist(), lon.tolist(), fc.tolist(),
            cc.tolist(), a1.tolist(), a2.tolist(), pop.tolist())
    ]
    for i, code in enumerate(a2_codes):
        c, i1, i2 = code.split(".")
        g = ADMIN2_GID + i
        lines.append(
            f"{g}\tAdmin2 {code}\tAdmin2 {code}\t\t0.00000\t0.00000\tA\tADM2\t"
            f"{c}\t\t{i1}\t{i2}\t\t\t0\t\t0\tEurope/Amsterdam\t2025-01-01\n")
    order = rng.permutation(len(lines))
    with open(os.path.join(out_dir, "allCountries.txt"), "w") as f:
        f.writelines(lines[k] for k in order.tolist())


if __name__ == "__main__":
    write_dump(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]))
