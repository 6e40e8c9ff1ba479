"""Concurrent-job isolation on ONE SparkSession (the HTTP server runs
jobs in threads): temp views are session-global, so two jobs staging
the same block alias or GLOBAL table name could clobber each other —
the reference never shares this state (fresh SQLite per AutoSQL
transform; server jobs are separate subprocesses). The engine
serializes every register-view → spark.sql window under
globals_store.VIEW_LOCK (eager analysis binds each DataFrame to the
view's plan at call time), so same-named staging in concurrent jobs
must stay fully isolated."""

import threading

from analyst_spark.aql.engine import execute_script


def _job_script(tag: int) -> str:
    # every job uses the SAME block alias and GLOBAL table names
    return f"""
    DATA 'Vals' (
        [[{tag}], [{tag}], [{tag}]]
    ) WITH (FORMAT = 'JSON_ARRAY', COLUMNS = 'n')

    QUERY 'Agg' FROM BLOCK Vals (
        SELECT sum(n) AS total, count(n) AS cnt FROM vals
    ) INTO GLOBAL WITH (Table = 'Out')

    QUERY 'Echo' FROM GLOBAL (
        SELECT total, cnt FROM out
    ) INTO GLOBAL WITH (Table = 'Final')
    """


def test_concurrent_jobs_same_alias_stay_isolated(spark):
    results: dict[int, tuple] = {}
    errors: list[Exception] = []
    barrier = threading.Barrier(4)

    def run(tag: int):
        try:
            barrier.wait(timeout=60)
            for _ in range(3):  # repeat to widen the collision window
                res = execute_script(spark, _job_script(tag))
                row = res.globals.get("final").collect()[0]
                results[tag] = (row.total, row.cnt)
                assert (row.total, row.cnt) == (3 * tag, 3), (
                    f"job {tag} saw another job's data: {row}"
                )
        except Exception as e:  # pragma: no cover - failure path
            errors.append(e)

    threads = [
        threading.Thread(target=run, args=(tag,)) for tag in (7, 11, 13, 17)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not errors, errors[0]
    assert results == {7: (21, 3), 11: (33, 3), 13: (39, 3), 17: (51, 3)}


_SHADOW_NATION = """
DATA 'Mine' (
    [[901, "OWN_A"], [902, "OWN_B"]]
) WITH (FORMAT = 'JSON_ARRAY', COLUMNS = 'n_nationkey,n_name')

QUERY 'Stage' FROM BLOCK Mine (
    SELECT n_nationkey, n_name FROM mine
) INTO GLOBAL WITH (TABLE = 'nation')

QUERY 'Read' FROM GLOBAL (
    SELECT count(*) AS n, min(n_nationkey) AS lo FROM nation
) INTO CONSOLE WITH (OUTPUT_FORMAT = 'JSON')
AFTER Stage
"""

_READ_LAKE_NATION = """
QUERY 'Read' FROM GLOBAL (
    SELECT count(*) AS n, min(n_nationkey) AS lo FROM nation
) INTO CONSOLE WITH (OUTPUT_FORMAT = 'JSON')
"""


def test_lake_view_and_same_named_global_stay_isolated(spark):
    """The production runner re-registers the lake views on every run
    while another job's INTO GLOBAL re-points the same view name: a
    job staging its own `nation` must read it, and a job reading the
    lake's `nation` must never see the other job's table."""
    from analyst_spark.server import spark_script_runner
    from tests.conftest import SF_DIR

    run = spark_script_runner(spark, SF_DIR)
    expected = {
        _SHADOW_NATION: ['[{"n":2,"lo":901}]'],
        _READ_LAKE_NATION: ['[{"n":25,"lo":0}]'],
    }
    barrier = threading.Barrier(2)
    errors: list[Exception] = []

    def loop(script: str):
        try:
            for _ in range(6):
                barrier.wait(timeout=60)
                got = run(script, {})
                assert got == expected[script], (script, got)
        except Exception as e:  # pragma: no cover - failure path
            errors.append(e)
            barrier.abort()

    threads = [threading.Thread(target=loop, args=(s,)) for s in expected]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
        assert not t.is_alive()
    assert not errors, errors[0]
