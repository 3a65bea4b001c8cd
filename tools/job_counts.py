"""Count Spark jobs and tasks per declared catalog query (guide §1:
structural evidence — job and task counts are deterministic under host
contention where wall-clock is not).

Usage: python tools/job_counts.py [query ...]   (default: all)
Prints `name jobs tasks wall_s` per query in catalog order, running each
query once in one warm session with the noop sink. `tasks` counts the
tasks the query's jobs launched (skipped stages excluded); it is what
shows a file-listing job, which is one job but one task per file.
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from databricks_delta_lake_project_spark.queries.catalog import (
    PRODUCTION_OVERRIDES,
    QUERIES,
)
from databricks_delta_lake_project_spark.session import get_spark


def launched_tasks(jsc, first: int, end: int) -> int:
    """Tasks launched by jobs ``first`` .. ``end - 1``, read from the
    status store once the listener bus has delivered their events."""
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    n = 0
    for jid in range(first, end):
        j = store.job(jid)
        n += int(j.numTasks()) - int(j.numSkippedTasks())
    return n


def main() -> None:
    only = set(sys.argv[1:])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="job_counts")
    spark.sparkContext.setLogLevel("ERROR")
    jsc = spark.sparkContext._jsc.sc()

    # warm the session the way bench.py does
    try:
        list(QUERIES.values())[0][0](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
    except Exception:  # noqa: BLE001
        pass

    for name, (fn, _) in QUERIES.items():
        if only and name not in only:
            continue
        fn = PRODUCTION_OVERRIDES.get(name, fn)
        jobs0 = jsc.dagScheduler().nextJobId()
        t0 = time.time()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        wall = time.time() - t0
        jobs1 = jsc.dagScheduler().nextJobId()
        tasks = launched_tasks(jsc, jobs0, jobs1)
        print(f"{name} {jobs1 - jobs0} {tasks} {wall:.2f}", flush=True)


if __name__ == "__main__":
    main()
