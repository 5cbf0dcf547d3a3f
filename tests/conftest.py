import pytest

from goldenretriever_spark.index import storage
from goldenretriever_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("gr-tests", cores=8, shuffle_partitions=8)
    yield s


@pytest.fixture
def route(monkeypatch):
    """``route(name)`` forces the serve route of the StoredIndex calls after
    it: ``"local"`` (every call on the test indexes is under the
    crossover) or ``"spark"`` (a crossover of 0). The edge-case tests run
    their body once per route name."""
    crossover = storage.LOCAL_CROSSOVER_DECODE_ROWS

    def force(name: str) -> str:
        monkeypatch.setattr(
            storage, "LOCAL_CROSSOVER_DECODE_ROWS", crossover if name == "local" else 0
        )
        return name

    return force
