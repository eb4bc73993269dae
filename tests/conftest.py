import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from docvault_ocr_service_spark.session import get_spark

    spark = get_spark(app_name="pytest", cores=8)
    yield spark
    spark.stop()


_SHUFFLE_PARTS = "spark.sql.shuffle.partitions"
_ADAPTIVE = "spark.sql.adaptive.enabled"


@pytest.fixture
def layouts(spark):
    """Iterate a test body under every session layout — shuffle
    partitions {1, 7, 32} × AQE {on, off} — yielding a label for
    assertion messages; the session's own layout is restored at
    teardown, even when an assertion fails mid-loop."""
    saved = {k: spark.conf.get(k) for k in (_SHUFFLE_PARTS, _ADAPTIVE)}

    def each():
        for parts in (1, 7, 32):
            for aqe in ("true", "false"):
                spark.conf.set(_SHUFFLE_PARTS, str(parts))
                spark.conf.set(_ADAPTIVE, aqe)
                yield f"shuffle.partitions={parts} aqe={aqe}"

    yield each
    for k, v in saved.items():
        spark.conf.set(k, v)
