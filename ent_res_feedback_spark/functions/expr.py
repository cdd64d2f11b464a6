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
"""

from __future__ import annotations

from typing import Callable

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
