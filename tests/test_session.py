"""The session get_spark builds: settings whose trade-off is a behaviour."""

from __future__ import annotations

import pytest
from pyspark.errors import AnalysisException


def test_call_site_capture_off_and_analysis_errors_still_name_the_column(spark):
    """get_spark turns PySpark's per-call Python origin capture off (it
    roughly doubled the py4j round trips of plan construction).  What that
    gives up is only the Python file/line context of an error: an
    unresolvable column still fails analysis, and the message names it."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    with pytest.raises(AnalysisException) as err:
        spark.range(1).select("no_such_col")
    assert "no_such_col" in str(err.value)
