"""Time-decay weight functions.

Semantics match the reference's weighter objects
(``python/centrality_utils/weight_funtions.py:5-50`` in
ferencberes/online-centrality): ``Const(c)``, ``Pow: (1+x/norm)^exponent``,
``Exp: base^(x/norm)``, ``Rayleigh: x/(sigma^2*norm) * exp(-x^2/(2*sigma^2*norm^2))``.
``__repr__`` strings are preserved verbatim because the reference uses them
as score-id path fragments (its ``README.md:85-94`` naming scheme).

Each weighter exposes three evaluation surfaces:

- ``weight(x)``       — Python scalar (oracle / driver-side use),
- ``weight_np(x)``    — vectorized numpy (inside pandas-UDF kernels),
- ``weight_col(col)`` — a Spark ``Column`` expression (JVM-side,
  whole-stage-codegen'd; used for decay carry and snapshot read-out).

Only ``Exp`` (and trivially ``Const``) *factorizes* over time:
``w(a+b) = w(a) * w(b)``. The superstep engine exploits factorization to
carry state forward with one vectorized multiply per superstep and to run
the distributed walk path; non-factorizing weighters (Pow, Rayleigh)
must always decay from the stored ``last_activation`` — never compound.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F


class Weighter:
    """Base weight function: decay weight for an elapsed time ``x >= 0``."""

    #: True iff w(a + b) == w(a) * w(b) for all a, b >= 0.
    factorizes: bool = False

    def weight(self, x: float) -> float:  # pragma: no cover - abstract
        raise NotImplementedError

    def weight_np(self, x: np.ndarray) -> np.ndarray:  # pragma: no cover
        raise NotImplementedError

    def weight_col(self, col: Column) -> Column:  # pragma: no cover
        raise NotImplementedError


@dataclass(frozen=True)
class ConstantWeighter(Weighter):
    c: float = 1.0

    factorizes = False  # w(a+b)=c, w(a)*w(b)=c^2 — only factorizes for c=1

    def weight(self, x: float) -> float:
        return self.c

    def weight_np(self, x: np.ndarray) -> np.ndarray:
        return np.full_like(np.asarray(x, dtype=np.float64), self.c)

    def weight_col(self, col: Column) -> Column:
        return F.lit(float(self.c))

    def __repr__(self) -> str:
        return "Const(%.2f)" % self.c


@dataclass(frozen=True)
class PowerWeighter(Weighter):
    norm: float = 1.0
    exponent: float = -1.0

    factorizes = False

    def weight(self, x: float) -> float:
        return math.pow(1 + float(x) / self.norm, self.exponent)

    def weight_np(self, x: np.ndarray) -> np.ndarray:
        return np.power(1.0 + np.asarray(x, dtype=np.float64) / self.norm, self.exponent)

    def weight_col(self, col: Column) -> Column:
        return F.pow(F.lit(1.0) + col / F.lit(float(self.norm)), F.lit(float(self.exponent)))

    def __repr__(self) -> str:
        return "Pow(e:%.3f,n:%.3f)" % (self.exponent, self.norm)


@dataclass(frozen=True)
class ExponentialWeighter(Weighter):
    norm: float = 1.0
    base: float = 0.5

    factorizes = True

    def weight(self, x: float) -> float:
        return math.pow(self.base, float(x) / self.norm)

    def weight_np(self, x: np.ndarray) -> np.ndarray:
        return np.power(self.base, np.asarray(x, dtype=np.float64) / self.norm)

    def weight_col(self, col: Column) -> Column:
        return F.pow(F.lit(float(self.base)), col / F.lit(float(self.norm)))

    def __repr__(self) -> str:
        return "Exp(b:%.3f,n:%.3f)" % (self.base, self.norm)


@dataclass(frozen=True)
class RayleighWeighter(Weighter):
    norm: float = 1.0
    sigma: float = 1.0

    factorizes = False

    @property
    def var(self) -> float:
        return self.sigma**2

    def weight(self, x: float) -> float:
        val = float(x) / self.norm
        return (1.0 / self.var) * val * math.exp(-1.0 * val**2 / (2 * self.var))

    def weight_np(self, x: np.ndarray) -> np.ndarray:
        val = np.asarray(x, dtype=np.float64) / self.norm
        return (1.0 / self.var) * val * np.exp(-(val**2) / (2 * self.var))

    def weight_col(self, col: Column) -> Column:
        val = col / F.lit(float(self.norm))
        return (F.lit(1.0 / self.var) * val) * F.exp(-(val * val) / F.lit(2 * self.var))

    def __repr__(self) -> str:
        return "Ray(s%.3f,n:%.3f)" % (self.sigma, self.norm)
