from __future__ import annotations

import os

# MUST run before numpy is first imported anywhere: OpenBLAS threading
# (and, since round 6, the pinned kernel family OPENBLAS_CORETYPE)
# changes GEMM reduction order (+-1 ulp), which would make the eager
# oracle (driver process) disagree with Spark's single-threaded Python
# workers on borderline probabilities. Importing uie_pytorch_spark.core
# sets every var via pin_blas_single_thread() BEFORE its own numpy
# import.
import sys as _sys

_sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from uie_pytorch_spark.core import blas_env_vars  # noqa: E402

for _v, _val in blas_env_vars().items():
    os.environ[_v] = _val

import pytest

# tests/goldens.json and tests/frozen/*.parquet were frozen under the
# AVX-512 OpenBLAS kernel; other kernel families round GEMMs differently
# (+-1 ulp), so tests marked ``frozen_kernel`` skip under them.
FROZEN_CORETYPE = "SKYLAKEX"


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        f"frozen_kernel: compares with outputs frozen under the "
        f"{FROZEN_CORETYPE} OpenBLAS kernel",
    )


def pytest_collection_modifyitems(config, items):
    ct = blas_env_vars().get("OPENBLAS_CORETYPE")
    if ct == FROZEN_CORETYPE:
        return
    skip = pytest.mark.skip(
        reason=f"frozen outputs need OPENBLAS_CORETYPE={FROZEN_CORETYPE}, "
        f"this host pins {ct}"
    )
    for item in items:
        if "frozen_kernel" in item.keywords:
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    from uie_pytorch_spark.session import get_spark

    s = get_spark(app_name="uie-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()
