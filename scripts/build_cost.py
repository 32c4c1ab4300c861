#!/usr/bin/env python
"""Build every ``queries()`` entry without running it, and print what
each build cost: wall seconds, the SQL executions it started (eager
checkpoints and collects inside operator builders) and the py4j commands
it sent to the JVM.

Usage:
    python scripts/build_cost.py [query ...]

With no query names, builds all of them. Reads the tables under
``$SPARK_GRAFT_SF_DIR`` (default: the test suite's sf0.001 tables,
``tests/conftest.py::SF_SMALL``) in a
``local[$SPARK_GRAFT_CPUS]`` session (default 4) with the bench's
shuffle-partition and split-size confs. One line per query, slowest
build first, then a total line. A builder that raises is listed with its
error and left out of the totals.

py4j's memory-release messages are not counted: Python sends one when a
JVM object handle is garbage-collected, so their number follows the
collector's timing, not the builder.
"""
from __future__ import annotations

import contextlib
import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@contextlib.contextmanager
def count_commands():
    """Count the py4j commands the enclosed block sends; yields a
    one-element list that holds the count."""
    from py4j import protocol
    from py4j.clientserver import ClientServerConnection

    release = protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME
    count = [0]
    send = ClientServerConnection.send_command

    def counting(self, command, *args, **kwargs):
        if not command.startswith(release):
            count[0] += 1
        return send(self, command, *args, **kwargs)

    ClientServerConnection.send_command = counting
    try:
        yield count
    finally:
        ClientServerConnection.send_command = send


def main() -> None:
    sys.path.insert(0, _REPO)
    import __spark_entry__ as entrymod
    from learn_etl_data_warehouse_spark.session import get_spark
    from tests.conftest import SF_SMALL

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", SF_SMALL)
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "4")
    spark = get_spark(
        app_name="letl-dw-build-cost",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.sql.shuffle.partitions": str(max(int(cpus) * 2, 8)),
            "spark.sql.files.maxPartitionBytes": "4m",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    bus = spark.sparkContext._jsc.sc().listenerBus()
    sql_store = spark._jsparkSession.sharedState().statusStore()

    def executions() -> int:
        bus.waitUntilEmpty()
        return sql_store.executionsCount()

    queries = entrymod.queries()
    names = sys.argv[1:] or list(queries)
    rows, failed = [], []
    for name in names:
        before = executions()
        t0 = time.perf_counter()
        try:
            with count_commands() as commands:
                queries[name](spark, sf_dir)
            secs = time.perf_counter() - t0
        except Exception as exc:  # report it and go on to the next builder
            failed.append((name, f"{exc!r}"[:200]))
            continue
        finally:
            spark.catalog.clearCache()
        rows.append((name, secs, executions() - before, commands[0]))

    rows.sort(key=lambda r: -r[1])
    print(f"{'query':40s} {'build_s':>8s} {'sql_execs':>9s} {'py4j':>7s}")
    for name, secs, execs, cmds in rows:
        print(f"{name:40s} {secs:8.3f} {execs:9d} {cmds:7d}")
    for name, err in failed:
        print(f"{name:40s} FAILED {err}")
    print(
        f"TOTAL built={len(rows)} failed={len(failed)} "
        f"build_s={sum(r[1] for r in rows):.1f} "
        f"sql_execs={sum(r[2] for r in rows)} "
        f"queries_with_sql={sum(1 for r in rows if r[2])} "
        f"py4j={sum(r[3] for r in rows)} sf_dir={sf_dir} local[{cpus}]"
    )


if __name__ == "__main__":
    main()
