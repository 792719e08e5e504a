import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from knowledge_extraction_pipeline_spark.session import get_spark  # noqa: E402


# local[N] and the shuffle width follow the host: SPARK_GRAFT_CPUS when set,
# else the machine's core count
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="kep-spark-tests", master=f"local[{CPUS}]")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def transcripts(spark):
    from knowledge_extraction_pipeline_spark.sources.transcripts_gen import (
        generate_transcripts,
    )
    return generate_transcripts(spark, 150).cache()
