#!/usr/bin/env python
"""Parquet-codec scaling matrix (VERDICT r2 item 8).

String-column decode bandwidth is the measured scaling ceiling on a
single-socket host (BENCH/BASELINE.md); the parquet codec (input files AND
the engine's own delta/base writes) directly moves decoded-bytes-per-core.
This harness runs the same replay at N and 4N (local-cluster executor JVMs,
same controls as bench_scaling.py) for each codec and writes
``BENCH/MATRIX_RAW.md``.

Configs: snappy (production default), zstd, uncompressed.
Run: python jobs/scaling_matrix.py
(env: MATRIX_EVENTS, MATRIX_EPOCHS, MATRIX_REPEATS).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench_scaling import run_at, zip_package  # noqa: E402
from nifi_dicom_spark.bench_core import generate_epoch_dirs  # noqa: E402

CONFIGS = [
    # (label, input/write codec)
    ("snappy", "snappy"),
    ("zstd", "zstd"),
    ("uncompressed", "none"),
]


def main() -> None:
    events = int(os.environ.get("MATRIX_EVENTS", "9600000"))
    epochs = int(os.environ.get("MATRIX_EPOCHS", "2"))
    repeats = int(os.environ.get("MATRIX_REPEATS", "2"))
    exec_mem = os.environ.get("SCALING_EXECUTOR_MEM_MB", "6144")
    masters = {
        "N": f"local-cluster[2,4,{exec_mem}]",
        "4N": f"local-cluster[8,4,{exec_mem}]",
    }
    per_epoch = events // epochs
    pyz = zip_package("/tmp/nifi_dicom_spark.zip")
    shm = "/dev/shm" if os.path.isdir("/dev/shm") else None
    work_root = tempfile.mkdtemp(prefix="matrix-", dir=shm)
    results: dict[str, dict] = {}
    input_bytes: dict[str, int] = {}
    try:
        inputs: dict[str, str] = {}
        for codec in {c for _l, c in CONFIGS}:
            d = os.path.join(work_root, f"input-{codec}")
            os.makedirs(d, exist_ok=True)
            generate_epoch_dirs(d, events, epochs, codec=codec)
            inputs[codec] = d
            input_bytes[codec] = sum(
                os.path.getsize(os.path.join(r, f))
                for r, _ds, fs in os.walk(d)
                for f in fs
            )
        for label, codec in CONFIGS:
            # spark codec name for uncompressed differs from pyarrow's
            write_codec = "uncompressed" if codec == "none" else codec
            per_level: dict[str, list[dict]] = {"N": [], "4N": []}
            for _ in range(repeats):
                for lvl in ("N", "4N"):  # alternate so host drift hits both
                    per_level[lvl].append(
                        run_at(
                            masters[lvl],
                            pyz,
                            events,
                            epochs,
                            inputs[codec],
                            work_root,
                            extra_args=("--write-codec", write_codec),
                        )
                    )
            results[label] = per_level
            print(f"done {label}", flush=True)
    finally:
        shutil.rmtree(work_root, ignore_errors=True)

    def best(rs: list[dict]) -> float:
        steady = [t for r in rs for t in r["epoch_seconds"][1:]] or [
            t for r in rs for t in r["epoch_seconds"]
        ]
        return min(steady)

    lines = [
        "# BENCH/MATRIX — parquet codec on the scaling harness",
        "",
        f"Same replay job and controls as BENCH/BASELINE.md ({events:,} events, "
        f"{epochs} timed epochs, {repeats} runs/level, best steady epoch), with "
        "the parquet codec applied to BOTH the input files and the engine's "
        "delta/base writes.",
        "",
        "| config | input MiB | N ev/s | 4N ev/s | efficiency |",
        "|---|---|---|---|---|",
    ]
    summary = {}
    for label, codec in CONFIGS:
        rn = per_epoch / best(results[label]["N"])
        r4 = per_epoch / best(results[label]["4N"])
        eff = (r4 / rn) / 4
        mib = input_bytes[codec] / (1 << 20)
        lines.append(
            f"| {label} | {mib:,.0f} | {rn:,.0f} | {r4:,.0f} | {eff:.3f} |"
        )
        summary[label] = {
            "n_ev_s": round(rn, 1),
            "four_n_ev_s": round(r4, 1),
            "efficiency": round(eff, 3),
            "input_mib": round(mib, 1),
            "raw": results[label],
        }
    lines.append("")
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    # raw regeneration target; the curated analysis lives in BENCH/MATRIX.md
    with open(os.path.join(REPO, "BENCH", "MATRIX_RAW.md"), "w") as f:
        f.write("\n".join(lines))
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
