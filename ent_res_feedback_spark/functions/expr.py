"""Expression-level let-binding.

Catalyst inlines non-attribute subexpression trees at EVERY reference:
an expression referenced k times is evaluated k times, and one
referenced inside a higher-order-function lambda is re-evaluated per
array element. For cheap inputs that is irrelevant; for a regexp
normalization chain referenced per trigram, or a split() referenced per
shingle, it turns linear work quadratic (measured: the round-6 shingle
fix, 43s -> 0.7s on 5k docs).

``let(col, body)`` evaluates ``col`` exactly once per row by binding it
to a higher-order-function lambda variable — references to a lambda
variable are plain attribute reads. This is the same 1-element-array
trick ``winnowing_fingerprints`` pioneered for its gram array, factored
out so every multi-reference expression can use it. Values are
bit-identical to the unbound form (same expressions, same order — only
the evaluation count changes).

``once_per_context`` builds an input-independent expression tree once per
SparkContext instead of once per job.
"""

from __future__ import annotations

import functools
from typing import Callable

from pyspark import SparkContext
from pyspark.sql import Column
from pyspark.sql import functions as F


def let(col: Column, body: Callable[[Column], Column]) -> Column:
    """``body`` over ``col`` with ``col`` evaluated ONCE per row.

    NULL propagates exactly as without the binding: ``array(col)`` is a
    1-element array holding NULL, and ``body`` receives that NULL.
    ``col`` must have an array-storable type (any Spark SQL type is).

    The result is always NULLABLE, even when ``body`` is not: ``get`` on
    the transformed array may return NULL as far as the analyzer knows,
    so binding a non-null expression widens its schema nullability.
    """
    return F.get(F.transform(F.array(col), body), 0)


#: distinct argument tuples kept per builder before its memo is dropped
_MAX_TREES = 64


def once_per_context(builder: Callable) -> Callable:
    """Memoize a Column-tree builder per active SparkContext.

    Every ``F.*`` call is a py4j round trip, often with a JVM reflection
    lookup behind it; the ER chain's static trees (mention extraction,
    constraints, features, score) took ~3k of them per job. A tree that
    depends only on the builder's (hashable) arguments is built once and
    the same Column objects are applied to every later frame — Columns
    are unresolved expressions, so reuse yields the same plans. A new
    active context rebuilds: pandas-UDF columns capture the context's
    Python settings. The memo is dropped after ``_MAX_TREES`` distinct
    argument tuples (e.g. a weight sweep), so it stays small;
    ``cache_clear()`` drops it, as for ``functools.lru_cache``."""
    state: dict = {"sc": None, "trees": {}}

    @functools.wraps(builder)
    def cached(*args):
        sc = SparkContext._active_spark_context
        trees = state["trees"]
        if sc is not state["sc"]:
            trees.clear()
            state["sc"] = sc
        tree = trees.get(args)
        if tree is None:
            if len(trees) >= _MAX_TREES:
                trees.clear()
            tree = trees[args] = builder(*args)
        return tree

    cached.cache_clear = lambda: state["trees"].clear()
    return cached
