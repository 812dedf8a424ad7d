from __future__ import annotations

import os

import pytest

from nifi_dicom_spark.session import get_spark


def _host_fit_driver_mem() -> dict[str, str]:
    """Cap the session-long test JVM's heap at half the host's RAM (at most
    get_spark's 16g default) unless $SPARK_DRIVER_MEM sets it. G1 keeps
    the heap it grows into, and over the whole suite a 16g heap outgrows
    a 15 GiB host until the kernel kills the JVM."""
    if "SPARK_DRIVER_MEM" in os.environ:
        return {}
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return {"spark.driver.memory": f"{max(2, min(16, ram // 2**31))}g"}


@pytest.fixture(scope="session")
def spark():
    # cpus follows $SPARK_GRAFT_CPUS (get_spark's default); the shuffle
    # width stays pinned so plan-shape assertions hold on any core count
    s = get_spark(
        app_name="nifi_dicom_spark-tests",
        shuffle_partitions=8,
        extra_conf=_host_fit_driver_mem(),
    )
    yield s
    s.stop()


@pytest.fixture(params=["driver", "spark"])
def read_path(request, monkeypatch):
    """Run a lookup, scan, compaction or merge test on both paths; the
    same byte cap governs all four. ``driver``: the test tables' files fit
    under ``DRIVER_READ_MAX_BYTES``, so pyarrow reads them with no Spark
    job, ``compact()`` folds each bucket on the driver and
    ``apply_changes`` collects each batch as Arrow and merges it on the
    driver. ``spark``: the byte cap is forced to 0, so every read,
    compaction and merge takes the Spark path that larger ones use."""
    if request.param == "spark":
        from nifi_dicom_spark.lake import snapshot_table

        monkeypatch.setattr(snapshot_table, "DRIVER_READ_MAX_BYTES", 0)
    return request.param
