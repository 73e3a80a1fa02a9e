from __future__ import annotations

import pytest

from rdf_knowledge_extractor_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="pytest", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def example_config():
    from rdf_knowledge_extractor_spark.config import Configuration, RdfSchema

    cfg = Configuration.example()
    cfg.rdf_schema = RdfSchema(
        namespace="http://business.example.org/ontology#",
        prefix="biz",
        base_uri="http://business.example.org/resource/",
        predicates={
            "hasName": "Entity has name",
            "hasRole": "Person has role",
            "worksFor": "Person works for organization",
            "locatedIn": "Entity is located in place",
            "partneredWith": "Company partnership",
        },
    )
    return cfg


@pytest.fixture()
def count_jobs(spark):
    """`count_jobs(fn)` -> (fn(), number of Spark jobs fn submitted),
    counted through a status-tracker job group."""
    import uuid

    sc = spark.sparkContext

    def run(fn):
        group = f"count-jobs-{uuid.uuid4().hex[:8]}"
        prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", prev)
        # job-start events reach the status store through the async
        # listener bus: drain it before counting
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
