import pytest
from pyspark.sql import SparkSession


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("kg-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture
def ontology_calls(monkeypatch):
    """Counts ``compile_ontology``, ``canonical_map`` and
    ``SparkContext.broadcast`` calls, over an empty broadcast memo."""
    from collections import Counter, OrderedDict

    from pyspark import SparkContext

    from dss_plugin_nlp_analysis_spark.operators import kg, ontology

    calls = Counter()

    def counting(name, fn):
        def wrapper(*args, **kwargs):
            calls[name] += 1
            return fn(*args, **kwargs)
        return wrapper

    monkeypatch.setattr(ontology, "_BROADCASTS", OrderedDict())
    monkeypatch.setattr(ontology, "compile_ontology",
                        counting("compile", ontology.compile_ontology))
    monkeypatch.setattr(kg, "canonical_map", counting("canonical_map", kg.canonical_map))
    monkeypatch.setattr(SparkContext, "broadcast", counting("broadcast", SparkContext.broadcast))
    return calls
