"""Seeded instrument corpus in the MCC ``.txt`` and STA ``.csv`` layouts.

Every file carries a planted value the benchmark checks after parsing:
the peak heat-release rate (``hrr``) of each MCC run and the mass loss of
each STA run.  Values are written with a fixed number of decimals, so the
expected parse results are the ``float()`` of the written strings and are
known here, without parsing.

Layouts (FIXTURES.md A1/A2):

* MCC: 9 ``key:<TAB>value`` metadata lines, a ``*`` sentinel line, a
  tab-separated header line, then 8 numeric channels (us-ascii).
* STA: ``#KEY: ,value`` metadata lines (with ``SEG.`` program lines and a
  ``°`` that makes the file iso-8859-1), a ``##`` header line, then 7
  comma-separated channels.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np

MCC_HEADER = [
    "Time (s)",
    "Temperature (C)",
    "N2 Flow Rate (ml/min)",
    "O2 Flow Rate (ml/min)",
    "Flow Rate (ml/min)",
    "O2 (%)",
    "HRR (W/g)",
    "Heating Rate (C/s)",
]
STA_HEADER = (
    "##Temp./°C,Time/min,Mass(subtr.)/%,DSC(subtr.)/(mW/mg),"
    "DTG(subtr.)/(%/min),Sensit./(uV/mW),Segment"
)
MCC_CHANNELS = 8
STA_CHANNELS = 7


@dataclass(frozen=True)
class Run:
    """One generated instrument file and the values planted in it."""

    path: str
    kind: str  # "MCC" or "STA"
    rows: int
    planted: float  # MCC: peak hrr (W/g); STA: mass loss (%)

    @property
    def name(self) -> str:
        return os.path.basename(self.path)


def _fmt(cols: list[np.ndarray], decimals: list[int], sep: str) -> str:
    row = sep.join(f"%.{d}f" for d in decimals) + "\n"
    return "".join(row % r for r in zip(*(c.tolist() for c in cols)))


def _mcc(rng: np.random.Generator, path: str, idx: int) -> Run:
    rows = int(rng.integers(2300, 2900))
    t = np.arange(rows) * 0.25
    rate = 1.0
    temp = 75.0 + rate * t
    n2 = 80.0 + rng.normal(0, 0.05, rows)
    o2 = 20.0 + rng.normal(0, 0.05, rows)
    flow = n2 + o2
    oxygen = 20.9 - rng.uniform(0, 2.0, rows)
    peak = round(float(rng.uniform(100.0, 600.0)), 2)
    at = int(rng.integers(rows // 4, 3 * rows // 4))
    width = rows / 12.0
    hrr = 0.95 * peak * np.exp(-(((np.arange(rows) - at) / width) ** 2))
    hrr = np.clip(hrr + rng.normal(0, 0.5, rows), 0.0, 0.99 * peak)
    hrr[at] = peak
    heating = rate + rng.normal(0, 0.01, rows)
    meta = [
        f"Sample ID:\tbench_mcc_{idx:04d}",
        f"Sample Weight (mg):\t{rng.uniform(2.0, 6.0):.3f}",
        f"Heating Rate (C/s):\t{rate:.1f}",
        "Combustor Temp (C):\t900",
        "N2 Flow Rate (ml/min):\t80",
        "O2 Flow Rate (ml/min):\t20",
        "Temperature Calibration:\t0.9987, 1.2, -0.0001",
        f"Time Shift (s):\t{int(rng.integers(10, 20))}",
        "Operator:\tperfbench",
        "*",
        "\t".join(MCC_HEADER),
    ]
    body = _fmt(
        [t, temp, n2, o2, flow, oxygen, hrr, heating],
        [2, 2, 3, 3, 3, 3, 4, 4],
        "\t",
    )
    with open(path, "w", encoding="ascii", newline="") as f:
        f.write("\n".join(meta) + "\n" + body)
    return Run(path, "MCC", rows, float(f"{peak:.4f}"))


def _sta(rng: np.random.Generator, path: str, idx: int) -> Run:
    rows = int(rng.integers(950, 1250))
    minutes = np.arange(rows) * (77.0 / rows)
    temp = 30.0 + 10.0 * minutes
    loss = round(float(rng.uniform(20.0, 90.0)), 2)
    # monotone sigmoid normalised to exactly 0 at the first and 1 at the
    # last row, so max(mass) - min(mass) is the planted loss
    s = 1.0 / (1.0 + np.exp(-(minutes - minutes[rows // 2]) / 6.0))
    s = (s - s[0]) / (s[-1] - s[0])
    mass = 100.0 - loss * s
    mass[0], mass[-1] = 100.0, 100.0 - loss
    dtg = np.gradient(mass, minutes)
    dsc = rng.normal(0.0, 0.2, rows) - 0.5 * s
    sens = np.full(rows, 1.0)
    seg = np.where(minutes < 2.0, 1, 2).astype(float)
    meta = [
        "#FORMAT: ,NETZSCH5",
        "#FTYPE: ,ANSI",
        f"#IDENTITY: ,bench_sta_{idx:04d}",
        "#DATE/TIME: ,2/11/2024 10:19:39",
        "#INSTRUMENT: ,NETZSCH STA 449F3",
        "#SAMPLE: ,perfbench",
        f"#SAMPLE MASS /mg: ,{rng.uniform(2.0, 6.0):.3f}",
        "#CRUCIBLE: ,DSC/TG pan Al2O3",
        "#SEG. 1: ,30°C/2.0(K/min)/30°C",
        "#SEG. 2: ,30°C/10.0(K/min)/800°C",
        "#PURGE 1 MFC: ,NITROGEN,50.0(ml/min)",
        "#OPERATOR: ,perfbench",
    ] + [f"#FIELD{i:02d}: ,value{i}" for i in range(33)]
    body = _fmt([temp, minutes, mass, dsc, dtg, sens, seg], [3, 4, 4, 5, 5, 2, 0], ",")
    with open(path, "w", encoding="iso-8859-1", newline="") as f:
        f.write("\n".join(meta) + "\n" + STA_HEADER + "\n" + body)
    return Run(path, "STA", rows, 100.0 - float(f"{100.0 - loss:.4f}"))


def generate(out_dir: str, seed: int, n_mcc: int, n_sta: int) -> list[Run]:
    """Write ``n_mcc`` MCC and ``n_sta`` STA files under ``out_dir/{mcc,sta}``.

    The same ``seed`` writes byte-identical files.
    """
    rng = np.random.default_rng(seed)
    runs = []
    for kind, n, ext, make in (("mcc", n_mcc, "txt", _mcc), ("sta", n_sta, "csv", _sta)):
        d = os.path.join(out_dir, kind)
        os.makedirs(d, exist_ok=True)
        for i in range(n):
            runs.append(make(rng, os.path.join(d, f"run_{i:04d}.{ext}"), i))
    return runs
