from __future__ import annotations

import pytest

from asset_prices_parquet_saver_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", cpus=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture()
def unpinned(monkeypatch):
    """``unpinned(fn)`` runs ``fn`` with ``pins.ENABLED`` off — the
    unpinned reference plan — and restores the seam when ``fn``
    returns, raises, or the test ends."""
    from asset_prices_parquet_saver_spark.functions import pins

    def run(fn):
        with monkeypatch.context() as m:
            m.setattr(pins, "ENABLED", False)
            return fn()

    return run
