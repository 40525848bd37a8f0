from __future__ import annotations

import os

import pytest

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECTNESS = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    from etl_stream_spark.session import get_spark

    spark = get_spark(app_name="etl_stream_spark_tests", shuffle_partitions=4)
    yield spark


@pytest.fixture(scope="session")
def catalog_frames(spark):
    """Session-shared, lazily-built sf0.001 catalog entries. Four
    whole-catalog sweeps (boundary types, broadcast hints, global
    windows, cartesian products) each called every entry's ``fn`` —
    four full constructions of ~190 entries, ~10 min of the suite's
    wall on a degraded box (r8 verdict item 2: the driver's pytest gate
    timed out). Entry fns are pure constructions (scratch side effects
    are per-(tag,pid) overwrite-idempotent), so ONE DataFrame per entry
    serves every sweep. Safe sharing rule: consumers may read
    ``df.schema`` / the ANALYZED plan freely; at most one consumer may
    force the PHYSICAL plan (QueryExecution caches executedPlan, so a
    second physical consumer under different session confs — AQE
    toggles — would silently read the first one's plan). That one
    physical consumer must force the plan through
    ``catalog_frames.executed_plan(name)``, which raises on a second
    call for the same entry. Today it is the cartesian sweep; the
    AQE-off ceiling suite deliberately builds its own frames."""
    return _CatalogFrames(spark)


class _CatalogFrames:
    def __init__(self, spark) -> None:
        self._spark = spark
        self._frames: dict = {}
        self._planned: set[str] = set()

    def __call__(self, name: str):
        from etl_stream_spark.catalog import CATALOG

        if name not in self._frames:
            self._frames[name] = CATALOG[name].fn(
                self._spark, "/root/testdata/sf0.001"
            )
        return self._frames[name]

    def executed_plan(self, name: str):
        """Force ``name``'s physical plan — allowed once per entry,
        since every later consumer would get this cached plan whatever
        its session confs."""
        if name in self._planned:
            raise RuntimeError(
                f"catalog_frames: {name}'s physical plan was already forced; "
                "a second physical consumer would read the cached plan — "
                "build a fresh frame instead"
            )
        self._planned.add(name)
        return self(name)._jdf.queryExecution().executedPlan()
