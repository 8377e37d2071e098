"""The benchmark's traced run wraps package functions by name
(``perfbench/layers.py``).  Installing and removing those wraps here makes
a change that deletes or renames a wrapped function fail the test suite,
not only a traced benchmark run."""

from perfbench import layers
from perfbench.tracing import Tracer


def test_trace_layers_install_and_uninstall(spark):
    tracer = Tracer(spark)
    try:
        layers.install(tracer)
        patched = list(tracer._patches)
        # One patch per ``w(...)`` call in ``layers.install``.
        assert len(patched) == 27
        for owner, attr, original in patched:
            assert getattr(owner, attr).__wrapped__ is original
    finally:
        tracer.uninstall()
    for owner, attr, original in patched:
        assert getattr(owner, attr) is original
