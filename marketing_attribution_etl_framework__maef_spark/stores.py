"""Per-application staged stores and scratch roots.

A staged store is an intermediate table several registry queries read
(the J1 journeys table, the near-dup pair store, the k-means
centroids, ...), built once per ``(applicationId, sf_dir)`` and served
from memory afterwards: the in-session analogue of the stage tables
the reference writes once per DAG run.  ``@staged`` owns the whole
lifecycle, so a getter only says how to build its value:

- the key is ``(spark.sparkContext.applicationId, sf_dir)``, never
  ``id(spark)``: CPython can hand a dead session's id to a new one,
  resurrecting handles bound to a stopped JVM;
- on a miss, entries of other (dead) applications are evicted and
  released, so a long-lived process hosting several applications in
  sequence (a test runner) does not accumulate them;
- release really frees blocks.  ``DataFrame.unpersist()`` is a no-op
  for ``localCheckpoint()`` output, so the RDD behind every
  ``LogicalRDD`` leaf of the stored plan is unpersisted as well.

Release runs only from ``clear_all()`` / ``Store.clear()`` and on
dead-application eviction, never while a live consumer may still read
a checkpoint two stores share.

``scratch_dir`` gives a query that writes files a fresh directory
under ``$SPARK_GRAFT_SCRATCH`` keyed by application and sf, so two
sessions on one host never clobber each other and nothing is written
inside the checkout.
"""

from __future__ import annotations

import functools
import os
import shutil
from collections.abc import Callable, Iterator
from typing import Any

from py4j.protocol import Py4JError
from pyspark.errors import PySparkException
from pyspark.sql import DataFrame, SparkSession

_STORES: dict[str, Store] = {}


class Store:
    """A ``(spark, sf_dir)`` getter plus the values it has staged."""

    def __init__(self, build: Callable[[SparkSession, str], Any], prestage: bool):
        functools.update_wrapper(self, build)
        self.build = build
        self.prestage = prestage
        self.entries: dict[tuple[str, str], Any] = {}

    def __call__(self, spark: SparkSession, sf_dir: str) -> Any:
        app_id = spark.sparkContext.applicationId
        key = (app_id, sf_dir)
        if key not in self.entries:
            for dead in [k for k in self.entries if k[0] != app_id]:
                _release(self.entries.pop(dead))
            self.entries[key] = self.build(spark, sf_dir)
        return self.entries[key]

    def clear(self) -> None:
        for value in self.entries.values():
            _release(value)
        self.entries.clear()


def staged(fn=None, *, prestage: bool = False):
    """Declare ``fn(spark, sf_dir)`` a staged store.

    ``prestage=True`` marks the stores ``bench.py`` builds before its
    timed region (``prestage_all``): tables a production deployment
    maintains continuously, whose one-time build must not be charged
    to whichever consumer happens to run first."""

    def wrap(build):
        store = Store(build, prestage)
        _STORES[f"{build.__module__}.{build.__qualname__}"] = store
        return store

    return wrap if fn is None else wrap(fn)


def registered() -> list[Store]:
    """Every declared store, in declaration order."""
    return list(_STORES.values())


def clear_all() -> None:
    """Drop and release every store's entries, for every application."""
    for store in _STORES.values():
        store.clear()


def prestage_all(spark: SparkSession, sf_dir: str) -> None:
    """Build and materialize every ``prestage=True`` store for ``sf_dir``."""
    for store in _STORES.values():
        if store.prestage:
            for df in _frames(store(spark, sf_dir)):
                df.write.format("noop").mode("overwrite").save()


def _frames(value: Any) -> Iterator[DataFrame]:
    """The DataFrames in a stored value: itself, or a tuple's members."""
    if isinstance(value, DataFrame):
        yield value
    elif isinstance(value, (tuple, list)):
        yield from (v for v in value if isinstance(v, DataFrame))


def _release(value: Any) -> None:
    """Non-blocking unpersist of a stored value's cache and of the RDDs
    behind its plan's ``LogicalRDD`` leaves (the checkpoint blocks)."""
    for df in _frames(value):
        try:
            df.unpersist(blocking=False)
            leaves = df._jdf.queryExecution().analyzed().collectLeaves().iterator()
            while leaves.hasNext():
                leaf = leaves.next()
                if leaf.getClass().getSimpleName() == "LogicalRDD":
                    leaf.rdd().unpersist(False)
        except (Py4JError, PySparkException):
            pass  # stopped application: its blocks died with it


def _scratch_root(spark: SparkSession) -> str:
    """This application's directory under ``$SPARK_GRAFT_SCRATCH``."""
    base = os.environ.get("SPARK_GRAFT_SCRATCH", "/tmp/maef_spark_scratch")
    return os.path.join(base, spark.sparkContext.applicationId)


def scratch_dir(spark: SparkSession, sf_dir: str, name: str) -> str:
    """A fresh, empty ``<scratch>/<applicationId>/<sf>/<name>`` directory."""
    root = os.path.join(
        _scratch_root(spark), os.path.basename(os.path.normpath(sf_dir)), name
    )
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root, exist_ok=True)
    return root


def remove_scratch(spark: SparkSession) -> None:
    """Delete this application's scratch root, never another's."""
    shutil.rmtree(_scratch_root(spark), ignore_errors=True)
