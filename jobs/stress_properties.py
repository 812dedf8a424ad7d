"""Stress the bounded-error property suites far past their gate budgets.

The pytest gate runs each codec property with 10-40 Hypothesis examples —
enough to catch gross defects, small enough to keep the suite's wall time
sane. But a fresh Hypothesis run draws FRESH examples, so a latent
falsifying example (a rare edge of a codec's error envelope, say) can stay
hidden for rounds and then redden a gate run nobody is watching. This job
re-invokes each property's inner test body (via the
``.hypothesis.inner_test`` attribute Hypothesis exposes) with thousands of
uniformly-drawn parameter combinations over the SAME strategy domains the
test declares, in parallel worker processes.

Properties that need a SparkSession (``SPARK_DOMAINS``) run after the
pool, in this process, against one local session.

Any failure prints the exact kwargs, ready to pin as an ``@example`` in
tests/test_properties.py next to a fix.

Usage:  python jobs/stress_properties.py [--per-test N] [--workers K]
Output: one line per test with pass/fail counts; nonzero exit on failure.
"""

from __future__ import annotations

import argparse
import os
import sys
import traceback
from multiprocessing import Pool

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np

# Parameter-domain table: mirrors each test's @given strategies exactly
# (tests/test_properties.py::test_stress_job_domains_name_live_properties).
# (test name, {kwarg: domain}) where domain is a list (sampled_from) or an
# inclusive ("int", lo, hi) integer range, matching st.integers(lo, hi).
DOMAINS = {
    "test_bmp_roundtrip_property": {
        "seed": ("int", 0, 10_000),
        "h": ("int", 1, 40),
        "w": ("int", 1, 40),
    },
    "test_png_roundtrip_property": {
        "seed": ("int", 0, 10_000),
        "h": ("int", 1, 32),
        "w": ("int", 1, 32),
    },
}

#: properties that take the ``spark`` fixture; same domain format
SPARK_DOMAINS = {
    "test_arrow_lww_kernel_matches_lww_dedup": {
        "seed": ("int", 0, 10_000),
        "n": ("int", 1, 60),
        "n_files": ("int", 1, 4),
    },
    "test_driver_compaction_matches_spark_compaction": {
        "seed": ("int", 0, 10_000),
        "n": ("int", 1, 60),
        "n_epochs": ("int", 1, 4),
        "layout": ["keys", "keys_split", "by_n"],
    },
    "test_driver_apply_matches_spark_apply": {
        "seed": ("int", 0, 10_000),
        "n": ("int", 1, 200),
        "n_epochs": ("int", 1, 3),
    },
}


def _draw(rng: np.random.Generator, domain):
    if isinstance(domain, tuple) and domain[0] == "int":
        return int(rng.integers(domain[1], domain[2] + 1))
    return domain[int(rng.integers(0, len(domain)))]


def _run_case(task, **fixtures):
    """Run one (test_name, kwargs) case; return (name, kwargs, err)."""
    name, kwargs = task
    try:
        import tests.test_properties as tp

        fn = getattr(tp, name)
        inner = getattr(getattr(fn, "hypothesis", None), "inner_test", fn)
        inner(**fixtures, **kwargs)
        return (name, kwargs, None)
    except Exception:
        return (name, kwargs, traceback.format_exc(limit=4))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--per-test", type=int, default=400)
    ap.add_argument("--workers", type=int, default=12)
    ap.add_argument("--master-seed", type=int, default=None,
                    help="fix for reproducibility; default = fresh entropy")
    ap.add_argument("--only", default=None, help="substring filter on test names")
    args = ap.parse_args()

    master = args.master_seed
    if master is None:
        master = int.from_bytes(os.urandom(4), "little")
    print(f"master_seed={master} per_test={args.per_test}", flush=True)
    rng = np.random.default_rng(master)

    def draw_tasks(domains: dict) -> list:
        out = []
        for name, dom in domains.items():
            if args.only and args.only not in name:
                continue
            for _ in range(args.per_test):
                out.append((name, {k: _draw(rng, d) for k, d in dom.items()}))
        return out

    # Interleave tests so slow families don't serialize at the pool tail.
    tasks = draw_tasks(DOMAINS)
    order = rng.permutation(len(tasks))
    tasks = [tasks[i] for i in order]
    spark_tasks = draw_tasks(SPARK_DOMAINS)

    # Fail fast if a domain drifted from the test file (e.g. a strategy was
    # widened but this table wasn't): verify each name still exists.
    import tests.test_properties as tp

    for name in [*DOMAINS, *SPARK_DOMAINS]:
        assert hasattr(tp, name), f"{name} missing from tests/test_properties.py"

    fails = {}
    counts = {}

    def record(name, kwargs, err) -> None:
        counts[name] = counts.get(name, 0) + 1
        if err is not None:
            fails.setdefault(name, []).append((kwargs, err))
            print(f"FAIL {name} {kwargs}\n{err}", flush=True)

    with Pool(args.workers) as pool:
        for result in pool.imap_unordered(_run_case, tasks, chunksize=4):
            record(*result)
    if spark_tasks:
        from nifi_dicom_spark.session import get_spark

        spark = get_spark(app_name="stress_properties", cpus=min(4, args.workers))
        try:
            for task in spark_tasks:
                record(*_run_case(task, spark=spark))
        finally:
            spark.stop()

    print("\n=== summary ===")
    for name in sorted(counts):
        nf = len(fails.get(name, []))
        print(f"{name}: {counts[name]} cases, {nf} failures")
    if fails:
        print("\nPin these as @example(...) next to the fix:")
        for name, cases in fails.items():
            for kwargs, _ in cases[:5]:
                print(f"  {name}: @example(**{kwargs})")
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
