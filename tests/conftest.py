import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_MID = "/root/testdata/sf0.01"
# the suite's session; tools/gen_plans.py records plans/shapes.json on it
SESSION = {"app_name": "tests", "master": "local[4]", "shuffle_partitions": 4}


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "pgstac: live pgstac integration tests — need PGSTAC_DSN pointing "
        "at a running ghcr.io/stac-utils/pgstac (skip cleanly otherwise)",
    )


@pytest.fixture(scope="session")
def spark():
    from stac_geoparquet_spark.session import get_spark

    s = get_spark(**SESSION)
    yield s
    # drop every session-memoized DataFrame/state before stopping so
    # the suite's JVM memory profile stays flat regardless of how many
    # cache families the selected tests touched (r08 verdict task #8)
    from stac_geoparquet_spark.caches import clear_session_caches

    clear_session_caches(s)
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
