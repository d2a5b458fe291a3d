"""The session factory: a driver started outside the checkout, with no
``PYTHONPATH`` of its own, still gets Python workers that import the
package (``get_spark`` puts the package's dir on their path)."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# the driver finds the package the way bench.py and scripts/ do (its own
# sys.path); the workers have only what the session gives them
_PROBE = f"""
import sys
sys.path.insert(0, {REPO!r})
from twitter_crawler_spark.session import get_spark

def tag(batches):
    import twitter_crawler_spark
    for pdf in batches:
        yield pdf.assign(pkg=twitter_crawler_spark.__name__)

spark = get_spark(cores=1, shuffle_partitions=1,
                  extra_conf={{"spark.ui.showConsoleProgress": "false"}})
rows = spark.range(1).mapInPandas(tag, "id long, pkg string").collect()
assert [tuple(r) for r in rows] == [(0, "twitter_crawler_spark")], rows
spark.stop()
"""


def test_workers_import_package_outside_checkout(tmp_path):
    env = {**os.environ, "SPARK_GRAFT_DRIVER_MEM": "1g"}
    env.pop("PYTHONPATH", None)
    out = subprocess.run(
        [sys.executable, "-c", _PROBE], capture_output=True, text=True,
        timeout=300, env=env, cwd=str(tmp_path),
    )
    assert out.returncode == 0, out.stderr[-3000:]
