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
