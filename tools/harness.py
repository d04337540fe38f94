"""Session warm-up, block release and py4j round-trip counting shared by
the timing tools (``bench.py``, ``tools/time_queries.py``,
``tools/scale_probe_cdc.py``) and the round-trip pins in
``tests/test_star_sql.py``.

Lives under ``tools/``, not in the package: the warm-up builds a Python
list relation with ``createDataFrame``, which the package confines to
``tables.local_frame``.
"""

from __future__ import annotations

import gc
import threading
from contextlib import contextmanager


def warm_up(spark, specs: dict, sf_dir: str) -> None:
    """Warm the JVM/codegen once, so per-query numbers measure the plan and
    not session start-up; then the Python/Arrow worker pool, so the first
    ``mapInPandas`` query is not charged several seconds of worker spawn."""
    specs["count_total"].fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
    spark.createDataFrame([(1,)], "x int").mapInPandas(
        lambda it: (pdf for pdf in it), "x int"
    ).write.mode("overwrite").format("noop").save()


def release_blocks(spark) -> None:
    """Drop the localCheckpoint/cache blocks left by the previous query.

    Checkpoint-heavy queries leave persisted RDD blocks behind; across
    hundreds of queries in one JVM they accumulate into enough memory
    pressure that late queries measure 3-6x slower than in a fresh session
    (a CDC scale probe once measured 76 s for a 7 s merge this way). Safe
    wherever every timed run rebuilds its DataFrame from scratch, so that
    nothing persists across runs.
    """
    gc.collect()  # release py4j-held JVM refs first
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for jrdd in list(jmap.values()):
        jrdd.unpersist(False)


@contextmanager
def py4j_commands(spark):
    """Collect the py4j commands this thread sends to the JVM inside the
    block: one entry per driver round trip.

    py4j deletes the JVM twins of freed Python objects from a thread of
    its own, at any time; those commands are not the block's cost and are
    left out.
    """
    client = spark.sparkContext._gateway._gateway_client
    orig = client.send_command
    me = threading.get_ident()
    sent: list[str] = []

    def counting(command, *args, **kwargs):
        if threading.get_ident() == me:
            sent.append(command)
        return orig(command, *args, **kwargs)

    client.send_command = counting
    try:
        yield sent
    finally:
        client.send_command = orig
