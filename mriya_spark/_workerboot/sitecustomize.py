"""Python-worker boot hook: start every worker with the zip code cache.

``mriya_spark.session.get_spark`` puts this directory on the Python
workers' ``PYTHONPATH`` (``spark.executorEnv.PYTHONPATH``), so ``site``
imports this module in every Python daemon Spark starts, before the
daemon imports pyspark from ``pyspark.zip``. It loads
``mriya_spark/_zipcache.py`` by file path, because importing it through
the package would run ``mriya_spark/__init__``, which imports pyspark.
The module is registered as ``mriya_spark._zipcache``, so the package
reuses it later and nothing gets wrapped twice. Then the next
``sitecustomize`` on ``sys.path``, if any, runs as it would have run
without this one (the ddtrace ``bootstrap/sitecustomize`` pattern).
"""

import importlib.machinery
import importlib.util
import os
import sys

_HERE = os.path.dirname(os.path.abspath(__file__))


def _load_zipcache() -> None:
    name = "mriya_spark._zipcache"
    if name in sys.modules:
        return
    path = os.path.join(os.path.dirname(_HERE), "_zipcache.py")
    spec = importlib.util.spec_from_file_location(name, path)
    module = importlib.util.module_from_spec(spec)
    sys.modules[name] = module
    try:
        spec.loader.exec_module(module)
    except BaseException:
        del sys.modules[name]
        raise


def _chain_next_sitecustomize() -> None:
    entries = [os.path.abspath(p or os.curdir) for p in sys.path]
    later = entries[entries.index(_HERE) + 1:] if _HERE in entries else entries
    spec = importlib.machinery.PathFinder.find_spec(
        "sitecustomize", [p for p in later if p != _HERE]
    )
    if spec is not None:
        spec.loader.exec_module(importlib.util.module_from_spec(spec))


try:
    _load_zipcache()
finally:
    _chain_next_sitecustomize()
