import pytest

from distributed_extraction_framework_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="defs-tests",
        master="local[4]",
        shuffle_partitions=8,
        extra_conf={"spark.ui.enabled": "false", "spark.driver.memory": "4g"},
    )
    yield s


@pytest.fixture
def both_tiers(monkeypatch):
    """``run`` -> ``[run()]`` under the loop tier (gate closed for every
    table, an empty one included) and the open-gate tier (broadcast
    joins; the driver-local tier for ``transitive_closure`` and the
    ``fixpoint.relax`` callers ``connected_components``,
    ``bfs_distances``, ``weighted_sssp`` and SCC's colouring) of the
    shared byte gate."""
    from distributed_extraction_framework_spark.operators import fixpoint

    def run_both(run):
        out = []
        for cap in (-1, 1 << 30):
            monkeypatch.setattr(fixpoint, "BROADCAST_BYTES", cap)
            out.append(run())
        monkeypatch.undo()
        return out

    return run_both


@pytest.fixture
def tiers_agree(both_tiers):
    """``check(run)`` -> ``run()``'s schema and rows as a sorted multiset,
    equal under the loop tier and the local tier, which must answer from
    the driver (a ``LocalRelation``); returns the local tier's. With
    ``driver=False`` the answer is built from pins after a driver-local
    step, so only the equality holds."""
    def check(run, driver=True):
        def answer():
            df = run()
            plan = df._jdf.queryExecution().optimizedPlan().toString()
            return ("LocalRelation" in plan, df.schema.simpleString(),
                    sorted(map(tuple, df.collect())))

        (loop_local, *loop), (local, *loc) = both_tiers(answer)
        assert loop == loc and not loop_local and (local or not driver)
        return loc

    return check


@pytest.fixture(scope="session")
def pages_df(spark):
    from distributed_extraction_framework_spark.sources.synth import synth_pages

    return synth_pages(spark, 400, partitions=4).cache()


@pytest.fixture(scope="session")
def pages_local():
    from distributed_extraction_framework_spark.sources.synth import local_pages

    return local_pages(400)
