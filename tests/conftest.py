import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import martial_arts_ocr_spark  # noqa: E402

# test the engine of this checkout, never one imported from elsewhere
if not os.path.abspath(martial_arts_ocr_spark.__file__).startswith(
        os.path.join(ROOT, "martial_arts_ocr_spark") + os.sep):
    raise pytest.UsageError(
        f"tests: the engine was imported from "
        f"{martial_arts_ocr_spark.__file__}, not from {ROOT}")


@pytest.fixture(scope="session")
def spark():
    from martial_arts_ocr_spark.engine.session import build_session

    s = build_session(master="local[2]", shuffle_partitions=4,
                      app_name="pytest")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()
