"""Write the SDMX exchange-rate choreography inputs ``data.0.csv`` …
``data.6.csv`` next to this file: a deterministic stand-in for the
reference's own input CSVs, with the row counts and codes FIXTURES.md §A
pins (504 / 4 / 254 / 474 / 3 / 3 / 1 rows).

    python tests/fixtures/sdmx_exr/generate.py

- ``data.0``: NOK and RUB, 1999-01 … 2019-12 (the initial load);
- ``data.1``: NOK and RUB, 2020-01 and 2020-02 (the append);
- ``data.2``: CHF, 1999-01 … 2020-02 (the coverage extension);
- ``data.3``: all three currencies, 2007-01 … 2020-02 (the replacement);
- ``data.4``: the three 2020-03 forecasts, ``OBS_STATUS=F``;
- ``data.5``: the three 2020-03 finals, ``OBS_STATUS=A``, revised values;
- ``data.6``: CHF 2020-03 with ``OBS_COM`` after ``OBS_STATUS``.

Values come from a fixed formula, so every run writes the same bytes.
"""

from __future__ import annotations

import csv
import os

OUT = os.path.dirname(os.path.abspath(__file__))
COLUMNS = [
    "FREQ", "CURRENCY", "CURRENCY_DENOM", "EXR_TYPE", "EXR_SUFFIX", "TIME_PERIOD",
    "OBS_VALUE", "OBS_STATUS", "COLLECTION", "DECIMALS", "TITLE", "UNIT", "UNIT_MULT",
]
# currency -> (title, rate level against the euro)
CURRENCIES = {
    "NOK": ("Norwegian krone/Euro", 8.5),
    "RUB": ("Russian rouble/Euro", 35.0),
    "CHF": ("Swiss franc/Euro", 1.6),
}


def periods(first: str, last: str) -> list[str]:
    """Monthly ``YYYY-MM`` periods from ``first`` to ``last`` inclusive."""
    y, m = map(int, first.split("-"))
    out = []
    while f"{y:04d}-{m:02d}" <= last:
        out.append(f"{y:04d}-{m:02d}")
        y, m = (y + 1, 1) if m == 12 else (y, m + 1)
    return out


def rate(currency: str, period: str, revision: int = 0) -> float:
    """A rate that wobbles around the currency's level; ``revision`` moves
    it, so a revised observation differs from the one it replaces."""
    y, m = map(int, period.split("-"))
    month = (y - 1999) * 12 + m
    level = CURRENCIES[currency][1]
    return round(level * (1 + 0.001 * ((month * 37 + 11 * revision) % 61 - 30)), 4)


def row(currency: str, period: str, status: str = "A", revision: int = 0) -> dict:
    title = CURRENCIES[currency][0]
    return {
        "FREQ": "M", "CURRENCY": currency, "CURRENCY_DENOM": "EUR",
        "EXR_TYPE": "SP00", "EXR_SUFFIX": "A", "TIME_PERIOD": period,
        "OBS_VALUE": f"{rate(currency, period, revision):.4f}", "OBS_STATUS": status,
        "COLLECTION": "A", "DECIMALS": "4", "TITLE": title, "UNIT": currency,
        "UNIT_MULT": "0",
    }


def write(name: str, rows: list[dict], columns: list[str] = COLUMNS) -> None:
    with open(os.path.join(OUT, name), "w", newline="") as fh:
        w = csv.DictWriter(fh, fieldnames=columns, lineterminator="\n")
        w.writeheader()
        w.writerows(rows)


def main() -> None:
    both = ["NOK", "RUB"]
    every = ["NOK", "RUB", "CHF"]
    write("data.0.csv", [row(c, p) for c in both for p in periods("1999-01", "2019-12")])
    write("data.1.csv", [row(c, p) for c in both for p in periods("2020-01", "2020-02")])
    write("data.2.csv", [row("CHF", p) for p in periods("1999-01", "2020-02")])
    write("data.3.csv", [row(c, p) for c in every for p in periods("2007-01", "2020-02")])
    write("data.4.csv", [row(c, "2020-03", "F") for c in every])
    write("data.5.csv", [row(c, "2020-03", "A", revision=1) for c in every])
    final = row("CHF", "2020-03", "A", revision=1)
    final["OBS_VALUE"] = f"{rate('CHF', '2020-03', revision=1) + 0.00003:.5f}"
    final["OBS_COM"] = "Improved precision"
    write("data.6.csv", [final], COLUMNS[:8] + ["OBS_COM"] + COLUMNS[8:])


if __name__ == "__main__":
    main()
