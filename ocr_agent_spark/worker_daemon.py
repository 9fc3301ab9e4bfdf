"""The Python worker daemon of the sessions ``session.build_spark`` makes.

PySpark forks every Python worker of an executor from one daemon process
(``spark.python.daemon.module``), and with worker reuse each worker then
runs task after task. The stock daemon has imported only pyspark's
worker loop, so a new worker imports pandas, pyarrow and the kernels
inside its first task: about 0.3-0.7 s on a 4-vCPU host, more under
load. That cost lands on the first wave that needs more workers than
any wave before it, e.g. the first full-width extraction after a
one-task job, and since a fused extraction is one wave of tasks, it adds
straight onto the job's wall time, by an amount that varies with the
host's load.

This daemon imports that worker-side stack once, before it forks, and
then runs pyspark's own daemon loop; every worker starts with the
modules already loaded (shared copy-on-write with the daemon). Nothing
else about the workers changes.
"""

from __future__ import annotations

import importlib

# What a worker imports to run the fused extraction and the merge's
# render step: Arrow <-> pandas conversion, the operators whose
# functions the tasks unpickle, and the kernels those import lazily.
PRELOAD = (
    "pandas",
    "pyarrow",
    "pyarrow.pandas_compat",
    "ocr_agent_spark.operators.extract",
    "ocr_agent_spark.operators.merge",
    "ocr_agent_spark.kernel",
)


if __name__ == "__main__":
    for name in PRELOAD:
        importlib.import_module(name)
    from pyspark import daemon

    daemon.manager()
