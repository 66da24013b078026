"""session.memo: the one store for driver artifacts, scoped to the
session object that owns it (catalog table handles, the conf pin, the
retrieval yardsticks, the fit sample and the PQ codebooks)."""

from __future__ import annotations

import gc
import weakref

from data_warehouse_data_mining_spark.catalog import load
from data_warehouse_data_mining_spark.operators import similarity as S
from data_warehouse_data_mining_spark.session import memo

from .conftest import SF_SMALL


def test_memo_builds_once_per_session(spark):
    """Same session, same key: ``build`` runs once and every call
    returns the identical object."""
    calls = []

    def build():
        calls.append(1)
        return object()

    a = memo(spark, ("test_memo", "once"), build)
    b = memo(spark, ("test_memo", "once"), build)
    assert a is b
    assert len(calls) == 1


def test_memo_misses_on_a_new_session(spark):
    """A newSession() clone shares the SparkContext but not the memo:
    its table handles belong to the clone (a parent handle would carry
    the parent's temp views and confs), and its codebooks are refitted
    to equal values rather than shared."""
    clone = spark.newSession()
    assert load(clone, SF_SMALL).lineitem.sparkSession is clone
    assert load(spark, SF_SMALL).lineitem.sparkSession is spark

    shape = (SF_SMALL, "ivf", 1, S.DIM, S.IVF_NLIST)
    parent = S._pq_codebooks(spark, *shape)
    child = S._pq_codebooks(clone, *shape)
    assert child == parent
    assert child is not parent
    assert S._pq_codebooks(clone, *shape) is child


def test_memo_artifacts_die_with_their_owner():
    """Nothing outside the owner keeps a memoized value alive: once the
    owner is dropped the artifact is collectable."""

    class Owner:
        pass

    class Artifact:
        pass

    owner = Owner()
    ref = weakref.ref(memo(owner, ("artifact",), Artifact))
    gc.collect()
    assert ref() is not None
    del owner
    gc.collect()
    assert ref() is None
